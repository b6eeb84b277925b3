"""Output checks of the perfbench workloads. Each check reads what one
chain run wrote, compares it with the generator's truth, and returns a
list of failure messages (empty when the outputs are correct). Distances
are recomputed here, outside the engine, with the same IEEE operations
as ``graft.functions.Distances.weightedDistance``."""

import json
import math
import random
import re
from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq

HASHTAG_WEIGHT = 0.8
PII = [re.compile(p) for p in (r"[a-z0-9]+@[a-z0-9]+\.[a-z]+", r"\+1-[0-9]{3}-[0-9]+",
                               r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}")]


def _tsv(d):
    """Rows of a Spark CSV/TSV output directory (all part files)."""
    rows = []
    for part in sorted(Path(d).glob("part-*")):
        rows += [line.split("\t") for line in part.read_text().splitlines() if line]
    return rows


def _parquet(d, cols):
    return pq.read_table(str(d), columns=cols).to_pydict()


def distance(a, b):
    """Weighted distance of two feature rows (id, tags, lang, video, .., time)."""
    dt = float(a[7]) - float(b[7])
    dh = (float(a[1]) - float(b[1])) * HASHTAG_WEIGHT
    dl = 0.0 if a[2] == b[2] else 1.0
    dv = float(a[3]) - float(b[3])
    return math.sqrt(dt * dt + dh * dh + dl * dl + dv * dv)


def _close(a, b):
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


def tweet_chain(truth, out, obs, seed):
    errs = []
    rows = {r[0]: r for r in truth["features"]}
    n = len(truth["features"])
    if obs["features"] != n:
        errs.append(f"ingested {obs['features']} rows, generator made {n} valid lines")
    assign = {int(i): int(c) for i, c in _tsv(out / "cluster" / "assignments")}
    if set(assign) != set(rows):
        errs.append(f"assignments cover {len(assign)} ids, features {len(rows)}")
        return errs
    groups = {int(k): int(v) for k, v in _tsv(out / "analyze" / "group_count")}
    if sum(groups.values()) != n or groups != dict(Counter(r[3] for r in rows.values())):
        errs.append(f"group counts {groups} do not add up to the {n} features by hasVideo")
    sizes = Counter(assign.values())
    avg_n = {int(r[0]): int(r[6]) for r in _tsv(out / "analyze" / "cluster_averages")}
    if avg_n != dict(sizes):
        errs.append(f"cluster_averages sizes {avg_n} != assignment sizes {dict(sizes)}")
    ids = [int(i) for i in obs["centroid_ids"]]
    written = {int(i): int(c) for i, c in _tsv(out / "cluster" / "centroids")}
    if written != dict(enumerate(ids)):
        errs.append(f"centroids file {written} != chain centroids {ids}")
    if len(set(ids)) != 3 or not all(i in rows for i in ids):
        errs.append(f"centroids {ids} are not 3 distinct members")
        return errs
    cents = [rows[i] for i in ids]

    def argmin(r):
        d = [distance(r, c) for c in cents]
        return d.index(min(d))  # first index wins ties

    sample = random.Random(f"check-{seed}").sample(sorted(rows), min(2000, n)) + ids
    wrong = [i for i in sample if assign[i] != argmin(rows[i])]
    if wrong:
        errs.append(f"{len(wrong)} of {len(sample)} sampled rows not at their first-wins argmin, e.g. {wrong[:3]}")
    sse = {}
    for i, c in assign.items():
        sse.setdefault(c, []).append(distance(rows[i], cents[c]))
    want = {c: math.fsum(v) for c, v in sse.items()}
    got = {int(c): float(v) for c, v in _tsv(out / "distance" / "sse")}
    if set(got) != set(want) or not all(_close(got[c], want[c]) for c in want):
        errs.append(f"per-cluster SSE {got} != recomputed {want}")
    return errs


def curation_release(truth, out, obs, seed):
    errs = []
    rel = out / "release"
    m = json.loads((rel / "manifest.json").read_text())
    if m["read"] != truth["docs"]:
        errs.append(f"manifest read {m['read']} != generated {truth['docs']}")
    if m["released"] + m["dropped_quality"] != m["after_dedup"]:
        errs.append(f"manifest: released + dropped_quality != after_dedup ({m})")
    if m["after_dedup"] + m["dropped_dup"] != m["read"] or m["after_decontamination"] != m["after_dedup"]:
        errs.append(f"manifest stage counts do not chain ({m})")
    v = _parquet(rel / "verdicts", ["doc_id", "reason"])
    survivors = set(v["doc_id"])
    if len(survivors) != m["after_dedup"] or len(v["doc_id"]) != len(survivors):
        errs.append(f"{len(v['doc_id'])} verdict rows for {m['after_dedup']} deduplicated docs")
    fams = truth["families"]
    bad = [f for f in fams if len(survivors.intersection(f)) != 1]
    if bad:
        errs.append(f"{len(bad)} of {len(fams)} planted families keep != 1 survivor, e.g. {bad[:2]}")
    in_family = set(i for f in fams for i in f)
    lost = [i for i in truth["reasons"] if i not in in_family and i not in survivors]
    if lost:
        errs.append(f"{len(lost)} singleton docs dropped as duplicates, e.g. {lost[:3]}")
    wrong = [(i, r) for i, r in zip(v["doc_id"], v["reason"]) if truth["reasons"][i] != r]
    if wrong:
        errs.append(f"{len(wrong)} quality verdicts differ from the rule table, e.g. {wrong[:3]}")
    d = _parquet(rel / "docs", ["doc_id", "text"])
    kept = {i for i, r in zip(v["doc_id"], v["reason"]) if r == "ok"}
    if set(d["doc_id"]) != kept or len(d["doc_id"]) != m["released"]:
        errs.append(f"released {len(d['doc_id'])} docs, verdicts keep {len(kept)}")
    leaks = [i for i, t in zip(d["doc_id"], d["text"]) if any(p.search(t) for p in PII)]
    if leaks:
        errs.append(f"{len(leaks)} released docs still carry PII, e.g. {leaks[:3]}")
    redacted = sum(1 for t in d["text"] if "<EMAIL>" in t)
    planted = len(kept & truth["pii"])
    if redacted != planted:
        errs.append(f"{redacted} released docs carry <EMAIL>, {planted} kept docs had an email")
    for name in ("packed", "card"):
        total = sum(_parquet(rel / name, ["n_docs"])["n_docs"])
        if total != m["released"]:
            errs.append(f"{name} covers {total} docs, released {m['released']}")
    bins = pq.read_table(str(rel / "packed"), columns=["bin"]).num_rows
    if m["packed_bins"] != bins:
        errs.append(f"manifest packed_bins {m['packed_bins']} != {bins} packed rows")
    return errs


def release_arrivals(truth, out, obs, seed):
    return curation_release(truth, out, obs, seed) + index_arrivals(truth, out, obs)


def index_arrivals(truth, out, obs):
    errs = []
    accepted = 0
    for b, (want, got) in enumerate(zip(truth["batches"], obs["batches"])):
        p = _parquet(out / f"batch_{b}" / "pairs", ["new_id", "old_id"])
        pairs = set(zip(p["new_id"], p["old_id"]))
        planted = set(want["resent"])
        missed = planted - pairs
        if missed:
            errs.append(f"batch {b}: {len(missed)} of {len(planted)} re-sent docs not paired, e.g. {sorted(missed)[:3]}")
        extra = {n for n, _ in pairs} - {n for n, _ in planted}
        if extra:
            errs.append(f"batch {b}: {len(extra)} fresh docs paired as duplicates, e.g. {sorted(extra)[:3]}")
        if got["clean"] != want["fresh"] or got["pairs"] != len(p["new_id"]):
            errs.append(f"batch {b}: {got['clean']} accepted, {want['fresh']} fresh")
        accepted += got["clean"]
    if len(obs["batches"]) != len(truth["batches"]):
        errs.append(f"{len(obs['batches'])} batches ran, {len(truth['batches'])} generated")
    if obs["index_docs"] != obs["released"] + accepted:
        errs.append(f"compacted index holds {obs['index_docs']} docs, released + accepted = "
                    f"{obs['released'] + accepted}")
    return errs


CHECKS = {"tweet-chain": tweet_chain, "release-arrivals": release_arrivals}
