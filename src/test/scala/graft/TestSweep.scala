package graft

/** Shared helper for the whole-registry sweep tests (round 16, r15
  * verdict item 1): the Empty/Null/Dirty robustness suites each run
  * every registered query serially, and EmptyInputSpec alone measured
  * ~14 min of the 92-min wall that killed the r15 driver gate. The
  * queries inside one sweep are independent and the shared
  * SparkSession schedules concurrent actions safely (the card-pool
  * discipline), so each sweep now fans out over a small driver pool —
  * same failures collected, same assertion, a fraction of the wall.
  */
object TestSweep {
  def collectFailures[A](items: Seq[A], threads: Int = 6)(
      run: A => Option[String]): Seq[String] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = items.map { a =>
        pool.submit(new java.util.concurrent.Callable[Option[String]] {
          def call(): Option[String] =
            try run(a)
            catch { // a helper must never lose a failure to its own plumbing
              case e: Throwable => Some(s"sweep-internal: ${e.getMessage}")
            }
        })
      }
      futures.flatMap(_.get())
    } finally {
      // a failed sweep must not leave in-flight Spark jobs running into
      // the next test
      pool.shutdown()
      pool.awaitTermination(30, java.util.concurrent.TimeUnit.MINUTES)
    }
  }
}
