"""Seeded inputs for the perfbench workloads, plus the ground truth the
output checks compare against. The same seed gives the same bytes.

- ``tweets``: a positional 24-field tweet CSV in the reference's format
  (id 0, time 4, language 11, counts 15-17, hashtags 18, video 23),
  drawn from three personas, with planted malformed lines: empty lines,
  arity < 24 and non-numeric ids, plus every hashtag form (``[]``,
  digits, list) and the ``True`` video form. The truth is the feature
  row the reference's parse derives from each valid line.
- ``corpus``: ~300-char documents ``(doc_id, text, lang, source,
  n_chars)``: singletons, planted near-duplicate families and planted
  quality failures; some documents carry contact PII.
- ``arrivals``: batches arriving after the corpus is released; each
  batch re-sends some released documents and some documents accepted
  from earlier batches (same text, new doc_id).
"""

import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

# ---- tweets -----------------------------------------------------------------

FIELD_SPLIT = re.compile(r",(?!\s)")
SIGNED_INT = re.compile(r"[+-]?[0-9]+")
DIGITS = re.compile(r"[0-9]+")
INT_MIN, INT_MAX = -(2 ** 31), 2 ** 31 - 1

# (publish hours, hashtag count range, languages, share with video)
PERSONAS = [
    (range(5, 13), (0, 2), ["en", "en", "en", "fr"], 0.1),
    (range(13, 19), (4, 7), ["tr", "tr", "en", "de"], 0.8),
    (list(range(21, 24)) + [0, 1], (9, 14), ["es", "es", "ja", "pt"], 0.2),
]
WORDS = ["spark", "data", "good", "morning", "news", "today", "world", "match",
         "game", "vote", "music", "film", "night", "team", "win", "city"]


def _strict_int(s):
    """Java parseInt acceptance: optional sign, digits, in int range."""
    if SIGNED_INT.fullmatch(s):
        v = int(s)
        if INT_MIN <= v <= INT_MAX:
            return v
    return None


def _digits_int(s):
    if DIGITS.fullmatch(s):
        v = int(s)
        if v <= INT_MAX:
            return v
    return None


def _time_bucket(t):
    parts = t.split(":")
    h = _strict_int(parts[0]) if len(parts) == 3 else None
    if h is None:
        return 0
    if 5 <= h <= 12:
        return 1
    if 13 <= h <= 18:
        return 2
    if h > 20 or h <= 1:
        return 3
    return 0


def parse_tweet(line):
    """The feature row the reference's ingest derives from one CSV line,
    or None when the line is dropped (empty, arity < 24, non-numeric id):
    (id, numOfHashtags, language, hasVideo, replies, retweets, likes, time)."""
    if not line:
        return None
    f = FIELD_SPLIT.split(line)
    if len(f) <= 23 or not DIGITS.fullmatch(f[0]) or int(f[0]) >= 2 ** 63:
        return None
    h = f[18]
    tags = _digits_int(h)
    if tags is None:
        tags = 0 if h == "[]" else len(h.split(","))
    v = f[23]
    video = _digits_int(v)
    if video is None:
        video = 1 if v == "True" else 0
    counts = [(_strict_int(c) or 0) for c in f[15:18]]
    return (int(f[0]), tags, f[11], video, counts[0], counts[1], counts[2], _time_bucket(f[4]))


def _count_field(rng):
    r = rng.random()
    if r < 0.03:
        return rng.choice(["", "n/a", "1k"])
    if r < 0.05:
        return str(-rng.randrange(1, 9))
    return str(int(rng.paretovariate(1.3)) - 1)


def _tweet_fields(rng, tid):
    hours, (t_lo, t_hi), langs, video_share = rng.choice(PERSONAS)
    if rng.random() < 0.1:  # noise: any hour, any tag count
        hours, (t_lo, t_hi) = range(24), (0, 14)
    n_tags = rng.randint(t_lo, t_hi)
    form = rng.random()
    if n_tags == 0:
        tags = "[]"
    elif form < 0.5:
        tags = str(n_tags)
    else:
        tags = "[" + ", ".join(f"'{rng.choice(WORDS)}{i}'" for i in range(n_tags)) + "]"
    has_video = rng.random() < video_share
    video = rng.choice(["True", "1"]) if has_video else rng.choice(["False", "0"])
    time = f"{rng.choice(hours):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}"
    if rng.random() < 0.01:
        time = rng.choice(["garbage", "7:30", "25:00:00", "-1:00:00"])
    text = " ".join(rng.choice(WORDS) for _ in range(rng.randint(2, 5)))
    if rng.random() < 0.3:
        text += ", " + rng.choice(WORDS)
    f = ["x"] * 24
    f[0] = str(tid)
    f[1] = str(tid - rng.randrange(1000))
    f[2] = "2021-03-%02d" % rng.randint(1, 28)
    f[3] = "UTC"
    f[4] = time
    f[6] = str(rng.randrange(10 ** 9))
    f[7] = "u%d" % rng.randrange(10 ** 5)
    f[10] = text
    f[11] = rng.choice(langs)
    f[12] = f[13] = f[14] = f[19] = "[]"
    f[15], f[16], f[17] = _count_field(rng), _count_field(rng), _count_field(rng)
    f[18] = tags
    f[20] = "t.co/%d" % (tid % 10 ** 6)
    f[21] = f[22] = ""
    f[23] = video
    return f


def seed_order(tweet_id):
    """The order ``KMeans.deterministicSeeds`` takes ids in: a
    multiplicative hash of the id, then the id."""
    p = 1000000007
    return ((tweet_id % p) * (2654435761 % p)) % p, tweet_id


# The hour each persona's planted k-medoids seed is published at: two time
# buckets away from the persona's own.
SEED_HOURS = [22, 3, 8]


def tweets(seed, n_lines, path):
    """Write ``n_lines`` CSV lines to ``path``; return the truth: the
    feature rows of the valid lines, in file order.

    The three valid rows ``KMeans.deterministicSeeds`` picks are planted
    one per persona, at its usual hashtags, language and video but two
    time buckets off. Every seed therefore starts k-medoids in a distinct
    persona, one shift (> the 1.5 convergence limit) from its medoid, and
    converges in the same number of rounds: run time does not depend on
    which rows the seed's ids happen to hash first."""
    rng = random.Random(f"tweets-{seed}")
    base = 1350000000000000000 + rng.randrange(10 ** 15)
    lines, valid = [], []
    for i in range(n_lines):
        tid = base + i * 7919 + rng.randrange(7919)
        f = _tweet_fields(rng, tid)
        r = rng.random()
        if r < 0.005:
            f = []
        elif r < 0.012:
            f = f[: rng.randint(1, 23)]
        elif r < 0.019:
            f[0] = rng.choice(["", "id%d" % tid, "%dx" % (tid % 10 ** 6), "n/a"])
        else:
            valid.append(i)
        lines.append(f)
    planted = sorted(valid, key=lambda i: seed_order(int(lines[i][0])))[:len(PERSONAS)]
    for (_, (t_lo, t_hi), langs, video_share), hour, i in zip(PERSONAS, SEED_HOURS, planted):
        f = lines[i]
        f[4] = f"{hour:02d}:30:00"
        f[11] = langs[0]
        f[18] = str((t_lo + t_hi) // 2)
        f[23] = "1" if video_share > 0.5 else "0"
    rows = []
    with open(path, "w") as out:
        for f in lines:
            line = ",".join(f)
            out.write(line + "\n")
            row = parse_tweet(line)
            if row is not None:
                rows.append(row)
    return {"lines": n_lines, "features": rows}


# ---- documents --------------------------------------------------------------

SOURCES = ["src0", "src1", "src2", "src3"]
LANGS = ["en", "en", "en", "de", "fr", "zh"]
STOPWORDS = ("the", "a")


def _vocabulary(rng, n):
    cons, vows = "bcdfgklmnprstvz", "aeiou"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(cons) + rng.choice(vows) for _ in range(rng.randint(2, 3))))
    return sorted(words)


def _doc_tokens(rng, vocab):
    toks = [rng.choice(vocab) for _ in range(rng.randint(42, 58))]
    for _ in range(2):
        toks.insert(rng.randrange(len(toks) + 1), rng.choice(STOPWORDS))
    return toks


def _with_pii(rng, doc_id, text):
    if rng.random() < 0.05:
        return (f"{text} contact user{doc_id}@example.com or +1-555-{doc_id % 10000}"
                f" at 10.{doc_id % 256}.0.{doc_id % 200}")
    return text


def _variant(rng, vocab, toks):
    """A near-duplicate of ``toks``: an exact copy, one token replaced,
    two adjacent tokens swapped, or two tokens appended."""
    v = list(toks)
    op = rng.randrange(4)
    if op == 1:
        v[rng.randrange(len(v))] = rng.choice(vocab)
    elif op == 2:
        i = rng.randrange(len(v) - 1)
        v[i], v[i + 1] = v[i + 1], v[i]
    elif op == 3:
        v += [rng.choice(vocab), rng.choice(vocab)]
    return v


def quality_reason(text):
    """The rule table of ``Curation.qualityVerdicts`` at its defaults."""
    t = text.split(" ")
    n = len(t)
    if n < 20:
        return "too_short"
    if len(set(t)) / n < 0.35:
        return "low_ttr"
    if sum(1 for w in t if w in STOPWORDS) / n > 0.12:
        return "high_stop"
    return "ok"


def _write_docs(path, docs):
    """``docs``: list of (doc_id, text, lang, source)."""
    path.mkdir(parents=True, exist_ok=True)
    table = pa.table({
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": pa.array([d[1] for d in docs], pa.string()),
        "lang": pa.array([d[2] for d in docs], pa.string()),
        "source": pa.array([d[3] for d in docs], pa.string()),
        "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
    })
    pq.write_table(table, path / "part-0.parquet")


def corpus(seed, n_docs, path):
    """Write a corpus of about ``n_docs`` documents under ``path``; return
    the truth: the planted families (doc_id lists), every document's
    text and expected quality reason, and the documents with PII."""
    rng = random.Random(f"corpus-{seed}")
    vocab = _vocabulary(rng, 3000)
    groups = []  # token lists per group; a family is a group of > 1
    while sum(len(g) for g in groups) < n_docs:
        r = rng.random()
        if r < 0.18:
            base = _doc_tokens(rng, vocab)
            groups.append([base] + [_variant(rng, vocab, base) for _ in range(rng.randint(1, 3))])
        elif r < 0.21:
            kind = rng.randrange(3)
            if kind == 0:
                toks = [rng.choice(vocab) for _ in range(rng.randint(8, 15))]
            elif kind == 1:
                few = rng.sample(vocab, 4)
                toks = [rng.choice(few) for _ in range(40)]
            else:
                toks = [rng.choice(vocab) if rng.random() < 0.7 else rng.choice(STOPWORDS)
                        for _ in range(40)]
            groups.append([toks])
        else:
            groups.append([_doc_tokens(rng, vocab)])
    ids = list(range(sum(len(g) for g in groups)))
    rng.shuffle(ids)
    docs, families, reasons, pii = [], [], {}, set()
    it = iter(ids)
    for g in groups:
        fam = []
        for toks in g:
            doc_id = next(it)
            text = _with_pii(rng, doc_id, " ".join(toks))
            if "@" in text:
                pii.add(doc_id)
            docs.append((doc_id, text, rng.choice(LANGS), rng.choice(SOURCES)))
            reasons[doc_id] = quality_reason(text)
            fam.append(doc_id)
        if len(fam) > 1:
            families.append(fam)
    _write_docs(path / "corpus", docs)
    return {"docs": len(docs), "families": families, "reasons": reasons, "pii": pii, "vocab": vocab,
            "texts": {d[0]: d[1] for d in docs}}


def arrivals(seed, corpus_truth, n_batches, batch_docs, resent, path):
    """Write ``n_batches`` batches of ``batch_docs`` documents arriving
    after the corpus of ``corpus_truth`` is released. ``resent`` of each
    batch repeat an earlier document's text under a new doc_id: half a
    released corpus document (a singleton that passes the quality rules
    and carries no PII, so its released text is its original text), half
    a fresh document of an earlier batch. Return the truth: per batch,
    the (new_id, old_id) re-sends and the fresh count."""
    rng = random.Random(f"arrivals-{seed}")
    vocab = corpus_truth["vocab"]
    in_family = {i for f in corpus_truth["families"] for i in f}
    texts = corpus_truth["texts"]
    released = sorted(i for i, r in corpus_truth["reasons"].items()
                      if r == "ok" and i not in in_family and i not in corpus_truth["pii"])
    next_id = corpus_truth["docs"]
    accepted = []  # fresh docs of earlier batches
    batches = []
    for b in range(n_batches):
        batch, plants, fresh = [], [], []
        for i in range(batch_docs):
            doc_id = next_id
            next_id += 1
            if i < resent:
                old = rng.choice(accepted if (i % 2 and accepted) else released)
                text = texts[old]
                plants.append((doc_id, old))
            else:
                text = _with_pii(rng, doc_id, " ".join(_doc_tokens(rng, vocab)))
                texts[doc_id] = text
                fresh.append(doc_id)
            batch.append((doc_id, text, rng.choice(LANGS), rng.choice(SOURCES)))
        rng.shuffle(batch)
        _write_docs(path / f"batch_{b}", batch)
        accepted += fresh
        batches.append({"resent": plants, "fresh": len(fresh)})
    return {"batches": batches}
