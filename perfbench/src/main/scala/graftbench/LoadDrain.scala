package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.streaming.{EventSource, GraftLoader, Sinks, SnapshotTableSink}

/** `load_drain`: a restarted loader catching up on a backlog.
  *
  * The events table is cut into source files and drained with
  * `FileSource(maxFilesPerTrigger)` from an empty checkpoint into each of
  * the six sinks in turn; each table is then read back through its public
  * reader, and last the same rows go through the four record encoders with
  * no sink. One pass is those 16 operations. An untimed warm-up pass over
  * the small warm-up events comes first; timed passes then repeat until
  * the run's seconds are used, and the reported times are their medians.
  * The data path dominates here: per-epoch fixed costs are a small share
  * of each sink's time.
  */
object LoadDrain {

  final case class Size(files: Int, perTrigger: Int, budgetRecords: Long)
  val Full = Size(files = 8, perTrigger = 8, budgetRecords = 2000)
  val Smoke = Size(files = 8, perTrigger = 4, budgetRecords = 200)
  val Warm = Size(files = 4, perTrigger = 4, budgetRecords = 200)

  /** One sink under test: how to build it, and how to read its table back
    * (`eventType` names the column that holds `event_type` on read). */
  final case class SinkUnderTest(name: String, loader: String => GraftLoader.Sink,
      read: (SparkSession, String) => DataFrame, eventType: String = "event_type")

  def sinks(budgetRecords: Long): Seq[SinkUnderTest] = Seq(
    SinkUnderTest("twopc", GraftLoader.TwoPhaseCommit(_), (s, d) => s.read.parquet(d)),
    SinkUnderTest("indata", GraftLoader.InDataOffsets(_), (s, d) => new Sinks.InDataOffsetSink(d).read(s)),
    SinkUnderTest("snapshot", GraftLoader.SnapshotTable(_), (s, d) => new SnapshotTableSink(d).read(s)),
    SinkUnderTest("rowbinary", GraftLoader.RowBinaryFiles(_),
      (s, d) => s.read.format("graft.sources.RowBinarySource").schema(EventSource.schema).load(d)),
    SinkUnderTest("budgeted", d => GraftLoader.BudgetedFiles(d, maxRecords = Some(budgetRecords)), readBudgeted,
      eventType = "group"),
    SinkUnderTest("partitioned", GraftLoader.PartitionedFiles(_), (s, d) => s.read.parquet(d)))

  /** The budgeted sink publishes one `epoch_<id>` tree per epoch, each
    * partitioned by group/commit/dt; each tree reads on its own. */
  private def readBudgeted(s: SparkSession, dir: String): DataFrame = {
    val epochs = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("epoch_")).map(_.getPath).sorted
    epochs.map(s.read.parquet(_)).reduce(_ unionByName _)
  }

  /** The registered SQL encoders, plus the CSV line the budgeted sink
    * sizes records with. */
  val encoders: Seq[(String, Column)] = {
    val rec = struct(col("event_id"), col("user_id"), col("event_type"), col("ts"), col("value"))
    Seq(
      "rowbinary" -> call_function("graft_rowbinary", rec),
      "verticarow" -> call_function("graft_verticarow", rec),
      "proto" -> call_function("graft_proto", rec),
      "csv" -> concat_ws(",", EventSource.schema.fieldNames.toSeq.map(c => col(c).cast("string")): _*)
        .cast("binary"))
  }

  private val overheadPhases = Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")

  /** Rows of the warm-up pass. */
  val WarmRows = 200

  /** Timed passes per run, at least: the reported times are their medians. */
  val MinPasses = 3

  /** What one pass measured: each operation's wall (s), the rows into
    * the sinks and the drains' total wall (s), and each encoder's digest. */
  final case class Pass(walls: Seq[(String, Double)], sinkRows: Long, sinkWall: Double,
      encDigests: Seq[(String, String)])

  def run(r: Run): Unit = {
    val spark = r.spark
    val a = r.args
    val size = if (a.smoke) Smoke else Full
    r.info("size") = size.toString
    val goldens = Golden.load(a.golden)
    val encGolden = goldens.getOrElse(s"encoders/${Golden.key(a.data)}", Map.empty[String, String])

    // Warm-up, untimed: one whole pass over the earliest warm-up events, so
    // that the timed passes do not pay the JVM's class loading, JIT and
    // first code generation, nor its first streaming query. A day or two
    // of events keeps the partitioned sinks' file count, and so the
    // warm-up, small; these rows have no golden encoder digests.
    r.warmUp {
      val dir = s"${a.work}/warm-src"
      val early = graft.Tables.events(spark, a.warm).orderBy("ts", "event_id").limit(WarmRows)
      Inputs.split(spark, early, dir, Warm.files, 0.5, a.seed, contiguous = false)
      val in = spark.read.schema(EventSource.schema).parquet(dir).persist()
      pass(r, Warm, dir, in, Digest.events(in), s"${a.work}/warm", None, dedup = true, (_, _) => ())
      in.unpersist()
      Files.rmTree(dir)
    }
    val events = graft.Tables.events(spark, a.data)
    val src = r.setup(3) { k =>
      val dir = s"${a.work}/src$k"
      Inputs.split(spark, events, dir, size.files, 0.5, a.seed, contiguous = false)
      if (k > 0) Files.rmTree(s"${a.work}/src${k - 1}")
      dir
    }
    val input = spark.read.schema(EventSource.schema).parquet(src)
    val expected = r.tracer.span("bench", "digest_input")(Digest.events(input))
    r.info("rows") = expected.rows.toString

    val opWalls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val passRates = mutable.ArrayBuffer.empty[Double]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    var encDigests = Seq.empty[(String, String)]

    r.measured {
      val cached = r.tracer.span("bench", "cache_input") {
        val c = input.persist(); c.count(); c
      }
      r.passes(if (a.smoke) 1 else MinPasses) { n =>
        val base = s"${a.work}/pass$n"
        val p0 = System.nanoTime()
        val p = r.tracer.span("bench", s"pass$n") {
          pass(r, size, src, cached, expected, base, Some(encGolden), dedup = n == 0, r.sample)
        }
        passWalls += (System.nanoTime() - p0) / 1e9
        p.walls.foreach { case (op, s) => opWalls.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += s }
        if (p.sinkWall > 0) passRates += p.sinkRows / p.sinkWall
        if (n == 0) encDigests = p.encDigests
        r.tracer.span("bench", "cleanup")(Files.rmTree(base))
      }
      cached.unpersist()
    }
    r.info("pass_s_each") = passWalls.map(w => f"$w%.3f").mkString(",")
    r.info("op_ms_each") = opWalls.map { case (op, w) => s"$op=" + w.map(s => f"${1000 * s}%.0f").mkString("/") }.mkString(" ")
    if (a.recordGolden) Golden.record(a.golden, s"encoders/${Golden.key(a.data)}", encDigests)
    r.endToEnd(Stats.median(passRates.toSeq), opWalls.values.map(w => 1000 * Stats.median(w.toSeq)).toSeq)
    if (r.tracer.enabled) writeBatchSelf(r)
  }

  /** One pass: drains the backlog in `src` into each sink under `base`,
    * reads each table back, checks the dedup reader if `dedup`, and runs `input`
    * through the encoders; every output is checked against `expected` and
    * the encoders' golden digests, if given. Per-layer values go to
    * `sample`. */
  private def pass(r: Run, size: Size, src: String, input: DataFrame, expected: Digest.Sum, base: String,
      encGolden: Option[Map[String, String]], dedup: Boolean, sample: (String, Double) => Unit): Pass = {
    val spark = r.spark
    val walls = mutable.ArrayBuffer.empty[(String, Double)]
    var sinkRows = 0L
    var sinkWall = 0.0
    var overhead = 0.0
    sinks(size.budgetRecords).foreach { sk =>
      val out = s"$base/${sk.name}"
      val res = r.tracer.span("streaming", s"drain.${sk.name}") {
        val parent = r.tracer.current
        r.op(s"drain ${sk.name}") {
          val q = start(r, sk, src, size.perTrigger, out, s"$base/cp-${sk.name}", parent)
          q.awaitTermination()
          q.exception.foreach(e => throw e)
          q.recentProgress.toSeq
        }
      }
      res.foreach { case (progress, s) =>
        val rows = progress.map(_.numInputRows).sum
        sinkRows += rows; sinkWall += s
        walls += s"drain.${sk.name}" -> s
        r.check(rows == expected.rows, s"drain ${sk.name}: $rows rows in, expected ${expected.rows}")
        sample(s"streaming.drain.${sk.name}.rows_per_s", rows / s)
        sample(s"streaming.drain.${sk.name}.addBatch_ms", progress.map(phase(_, "addBatch")).sum)
        overhead += progress.map(p => overheadPhases.map(phase(p, _)).sum).sum
      }
      r.tracer.span("sources", s"readback.${sk.name}") {
        r.op(s"readback ${sk.name}")(Digest.events(sk.read(spark, out), sk.eventType))
      }.foreach { case (got, s) =>
        walls += s"readback.${sk.name}" -> s
        sample(s"sources.readback.${sk.name}.rows_per_s", got.rows / s)
        r.check(got == expected, s"readback ${sk.name}: $got, expected $expected")
      }
    }
    sample("streaming.drain.overhead_ms", overhead)
    if (dedup) r.tracer.span("bench", "check.dedup") {
      val sink = new Sinks.InDataOffsetSink(s"$base/indata")
      val (plain, dedup) = (Digest.events(sink.read(spark)), Digest.events(sink.readDeduped(spark)))
      r.check(plain == dedup, s"indata readDeduped $dedup differs from read $plain")
    }
    val encDigests = encoders.flatMap { case (name, enc) =>
      r.tracer.span("functions", s"enc.$name") {
        r.op(s"encode $name") {
          input.agg(count(enc), coalesce(sum(octet_length(enc)), lit(0L)),
            coalesce(sum(pmod(xxhash64(enc), lit(2147483647L))), lit(0L))).collect()(0)
        }
      }.map { case (row, s) =>
        walls += s"enc.$name" -> s
        val d = Digest.Sum(row.getLong(0), row.getLong(2)).toString
        sample(s"functions.enc.$name.rows_per_s", row.getLong(0) / s)
        sample(s"functions.enc.$name.mb_per_s", row.getLong(1) / 1048576.0 / s)
        r.check(row.getLong(0) == expected.rows, s"encode $name: ${row.getLong(0)} values for ${expected.rows} rows")
        if (!r.args.recordGolden) encGolden.foreach(_.get(name) match {
          case Some(g) => r.check(g == d, s"encode $name: $d, golden $g")
          case None => r.fail(s"encode $name: no golden digest for these events")
        })
        name -> d
      }
    }
    Pass(walls.toSeq, sinkRows, sinkWall, encDigests)
  }

  private def phase(p: StreamingQueryProgress, name: String): Double =
    Option(p.durationMs.get(name)).map(_.doubleValue).getOrElse(0.0)

  /** Starts one drain. Untraced, every sink goes through `GraftLoader`.
    * Traced, the three sinks with a public `writeBatch` are attached by
    * the benchmark instead, through a `foreachBatch` equivalent to their
    * `attach`, so that each epoch's `writeBatch` gets its own span. */
  private def start(r: Run, sk: SinkUnderTest, src: String, perTrigger: Int, out: String,
      cp: String, parent: Int): StreamingQuery = {
    val writeBatch: Option[(DataFrame, Long) => Unit] =
      if (!r.tracer.enabled) None
      else sk.name match {
        case "twopc" => Some(new Sinks.TwoPhaseCommitSink(out).writeBatch)
        case "indata" => Some(new Sinks.InDataOffsetSink(out).writeBatch)
        case "snapshot" => Some(new SnapshotTableSink(out).writeBatch)
        case _ => None
      }
    writeBatch match {
      case None =>
        GraftLoader.builder()
          .source(GraftLoader.FileSource(src, maxFilesPerTrigger = perTrigger))
          .sink(sk.loader(out))
          .checkpoint(cp)
          .start(r.spark)
      case Some(wb) => tracedAttach(r, EventSource.fileStream(r.spark, src, perTrigger), cp, sk.name, wb, parent)
    }
  }

  /** `attach` of the writeBatch sinks, with a span around each epoch. */
  def tracedAttach(r: Run, events: DataFrame, cp: String, sink: String,
      wb: (DataFrame, Long) => Unit, parent: Int): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, id: Long) =>
        r.tracer.span("streaming", s"sink.$sink.writeBatch", parent)(wb(df, id))
      }
      .start()

  /** `streaming.sink.<s>.writeBatch_ms`: median self time per epoch,
    * over the epochs outside the warm-up. */
  def writeBatchSelf(r: Run): Unit = {
    val self = r.tracer.selfNs
    val bySink = r.tracer.all.filter(s => s.layer == "streaming" && s.name.endsWith(".writeBatch") &&
        !r.tracer.within(s, "warm_up"))
      .groupBy(_.name.stripPrefix("sink.").stripSuffix(".writeBatch"))
    bySink.foreach { case (sink, ss) =>
      r.put(s"streaming.sink.$sink.writeBatch_ms", Stats.median(ss.map(s => self(s.id) / 1e6)))
    }
  }
}
