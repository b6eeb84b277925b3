package graft

import org.apache.spark.TaskContext

/** The engine's session factory (`GraftRuntime.session`), exercised on
  * the shared test session it built. */
class SessionFactorySpec extends SparkSpec {

  test("a local session retries a failed task attempt instead of failing the job") {
    // a bare local[N] master gives each task one attempt, whatever
    // spark.task.maxFailures says; the factory's local[N,4] gives four
    val sum = spark.sparkContext.parallelize(1 to 8, 4).map { x =>
      if (x == 1 && TaskContext.get.attemptNumber == 0)
        throw new IllegalStateException("transient failure on the first attempt")
      x.toLong
    }.sum()
    assert(sum === 36.0)
  }
}
