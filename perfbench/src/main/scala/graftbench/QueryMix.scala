package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** `query_mix`: analytics over the testdata corpus.
  *
  * An untimed warm-up pass first runs every query once over the same
  * corpus, so that the timed passes do not pay the JVM's class loading,
  * JIT and first code generation (a warm-up over a smaller corpus left
  * the first timed pass ~10 % slower than the next). Each timed pass then runs the
  * registered queries below once, in this order, in a fresh
  * `spark.newSession()`, collecting every result row to the driver. A
  * fresh session starts with empty session memos, so every shared build a
  * query needs is paid inside the pass, while the JIT stays warm. Task
  * time, memo builds and driver-chained jobs dominate; streaming is not
  * used.
  *
  * The order is fixed, not drawn from the seed: a query's wall includes
  * whatever shared build it is the first to need, so a seeded order moves
  * cost between queries from run to run. The corpus is fixed too, so the
  * seed does not change this workload.
  */
object QueryMix {

  /** TPC-H pricing and join, event sessions, and the prefix-filter
    * similarity join that owns a session memo: what fits three warm passes
    * (~5.5 s each on a 4-vCPU host) after the untimed one in a run. */
  val queries: Seq[String] = Seq("q1_pricing", "q9_profit", "ev_sessions", "dd_ppjoin")

  val Tables = Seq("lineitem", "orders", "customer", "part", "supplier", "events", "documents", "embeddings")

  /** Timed passes per run, at least: the reported times are their medians. */
  val MinPasses = 3

  /** Session-memoised shared builds the mix touches, priced after an
    * eviction the way `graft.Bench` prices them: (metric name, owner
    * object, evict method, build method, extra build arguments). The
    * builders are package-private, so they are reached by reflection; a
    * build that can no longer be found fails the run. */
  private val memos: Seq[(String, String, String, String, Seq[AnyRef])] = Seq(
    ("ppjoin_truth", "Dedup", "evictPpjoinTruth", "ppjoinPairsUnsorted", Nil))

  def run(r: Run): Unit = {
    val spark = r.spark
    val a = r.args
    val dir = a.data
    val golden = Golden.load(a.golden).getOrElse(section(dir), Map.empty[String, String])

    r.warmUp {
      pass(r, freshSession(spark), dir, "warm", golden)
    }
    // Set-up is opening the corpus in a fresh session: the session itself,
    // and a scan of every table the mix reads.
    val corpusRows = r.setup(3) { _ =>
      val s = spark.newSession()
      Tables.map(t => s.read.parquet(s"$dir/$t.parquet").count()).sum
    }
    r.info("corpus_rows") = corpusRows.toString
    val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    var digests = Seq.empty[(String, String)]
    var last: SparkSession = null

    r.measured {
      r.passes(if (a.smoke) 1 else MinPasses) { n =>
        val s = freshSession(spark)
        val p0 = System.nanoTime()
        val done = r.tracer.span("bench", s"pass$n")(pass(r, s, dir, s"p$n", golden))
        passWalls += (System.nanoTime() - p0) / 1e9
        done.foreach { case (q, w, _) => walls.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += w }
        if (n == 0) digests = done.map { case (q, _, d) => q -> d }
        if (r.tracer.enabled) {
          // once per pass, outside its wall: counts are kept per query tag
          r.tracer.span("bench", "settle")(r.engine.settle())
          done.foreach { case (q, w, _) =>
            val c = r.engine.forTag(s"p$n.$q")
            r.sample(s"operators.$q.wall_s", w)
            r.sample(s"operators.$q.jobs", c.jobs.toDouble)
            r.sample(s"operators.$q.task_s", c.taskMs / 1e3)
            r.sample(s"operators.$q.util", c.taskMs / 1e3 / (w * a.cores))
          }
        }
        last = s
      }
    }
    r.info("pass_s_each") = passWalls.map(w => f"$w%.3f").mkString(",")
    r.info("op_ms_each") = walls.map { case (q, w) => s"$q=" + w.map(s => f"${1000 * s}%.0f").mkString("/") }.mkString(" ")
    if (a.recordGolden) Golden.record(a.golden, section(dir), digests)
    if (r.tracer.enabled) priceMemos(r, last, dir)
    r.endToEnd(corpusRows / Stats.median(passWalls.toSeq), walls.values.map(w => 1000 * Stats.median(w.toSeq)).toSeq)
  }

  private def section(data: String): String = s"queries/${Golden.key(data)}"

  private def freshSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.graft.lint", "off")
    s
  }

  /** Runs every query once in `s` over `dir` and checks each result
    * against its golden digest; returns (query, wall seconds, digest) of
    * the queries that ran. Jobs are tagged `<tag>.<query>`. */
  private def pass(r: Run, s: SparkSession, dir: String, tag: String,
      golden: Map[String, String]): Seq[(String, Double, String)] =
    queries.flatMap { q =>
      r.tracer.span("operators", q) {
        r.op(s"$tag $q") {
          Engine.tagged(r.spark.sparkContext, s"$tag.$q") {
            val df = graft.SparkEntry.queries(q)(s, dir)
            if (r.tracer.enabled) r.tracer.span("plans", s"$q.plan") {
              df.queryExecution.executedPlan
              if (tag != "warm") r.sample(s"plans.$q.planning_ms",
                df.queryExecution.tracker.phases.values.map(_.durationMs.toDouble).sum)
            }
            (df.schema, df.collect())
          }
        }
      }.map { case ((schema, rows), w) =>
        val d = Digest.result(schema, rows).toString
        if (!r.args.recordGolden) golden.get(q) match {
          case Some(g) => r.check(g == d, s"$tag $q: $d, golden $g")
          case None => r.fail(s"$tag $q: no golden digest for ${Golden.key(dir)}")
        }
        (q, w, d)
      }
    }

  private def priceMemos(r: Run, s: SparkSession, dir: String): Unit =
    memos.foreach { case (name, owner, evict, build, extra) =>
      r.tracer.span("util", s"memo.$name") {
        val obj = scala.util.Try(Class.forName(s"graft.operators.$owner$$").getField("MODULE$").get(null)).toOption
        def method(m: String, arity: Int) =
          obj.flatMap(_.getClass.getMethods.find(x => x.getName == m && x.getParameterCount == arity))
        (obj, method(evict, 1), method(build, 2 + extra.length)) match {
          case (Some(o), Some(e), Some(b)) =>
            r.op(s"memo $name") {
              e.invoke(o, s)
              b.invoke(o, (Seq(s, dir) ++ extra): _*) match {
                case df: org.apache.spark.sql.Dataset[_] => df.count()
                case _ => ()
              }
            }.foreach { case (_, secs) => r.sample(s"util.memo.$name.build_s", secs) }
          case _ => r.fail(s"memo $name: graft.operators.$owner.$evict/$build not found")
        }
      }
    }
}
