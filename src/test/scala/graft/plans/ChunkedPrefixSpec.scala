package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Pins [[ChunkedPrefix]] — the two-phase replacement for corpus-sized
  * `Window.partitionBy(lowCardKey)` running aggregates — against
  * Spark's OWN monolithic windows: identical answers across chunk
  * widths that exercise every merge branch (width 1 = every row its own
  * chunk, widths splitting mid-key, width larger than the data = the
  * degenerate single-chunk case), plus null values, order ties, sparse
  * ids (empty chunks between populated ones), and empty input. Also
  * pins that the six ported operators' executed plans window on the
  * chunk column rather than the bare low-cardinality key. */
class ChunkedPrefixSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {

  val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-chunked-prefix-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // 3 keys round-robin, deliberately sparse ids (×7 so most id-chunks at
  // small widths are empty for any given key), tied + null values
  private def frame(n: Int) =
    spark.range(n).select(
      (col("id") * 7).as("id"),
      (col("id") % 3).cast("string").as("k"),
      when(col("id") % 11 === 0, lit(null).cast("long"))
        .otherwise((col("id") * 37) % 5).as("v"))

  private val widths = Seq(1L, 3L, 64L, 1000000L)
  private val sizes = Seq(1, 2, 5, 97, 1000)

  private def parity(name: String, got: org.apache.spark.sql.DataFrame,
                     want: org.apache.spark.sql.DataFrame): Unit =
    withClue(s"$name: ") {
      // count first: except() has SET semantics, so a row-duplicating
      // regression (e.g. two carry rows per (key, chunk)) would slip
      // through a two-sided except alone
      got.count() shouldBe want.count()
      got.except(want).count() shouldBe 0L
      want.except(got).count() shouldBe 0L
    }

  behavior of "runningMax"

  it should "equal the monolithic prefix-max window (inclusive and exclusive)" in {
    for (n <- sizes; w <- widths; incl <- Seq(true, false)) {
      val df = frame(n)
      val frameEnd = if (incl) Window.currentRow else -1L
      val win = df.withColumn("m", max(col("v")).over(
        Window.partitionBy(col("k")).orderBy(col("id"))
          .rowsBetween(Window.unboundedPreceding, frameEnd)))
      val got = ChunkedPrefix.runningMax(df, Seq("k"), Seq(col("id")),
        ChunkedPrefix.idChunks(col("id"), w), col("v"), "m", inclusive = incl)
      parity(s"n=$n width=$w incl=$incl", got, win)
    }
  }

  behavior of "runningSum"

  it should "equal the zero-defaulted monolithic prefix-sum window" in {
    for (n <- sizes; w <- widths; incl <- Seq(true, false)) {
      val df = frame(n)
      val frameEnd = if (incl) Window.currentRow else -1L
      val win = df.withColumn("sm", coalesce(sum(col("v")).over(
        Window.partitionBy(col("k")).orderBy(col("id"))
          .rowsBetween(Window.unboundedPreceding, frameEnd)), lit(0L)))
      val got = ChunkedPrefix.runningSum(df, Seq("k"), Seq(col("id")),
        ChunkedPrefix.idChunks(col("id"), w), col("v"), "sm", inclusive = incl)
      parity(s"n=$n width=$w incl=$incl", got, win)
    }
  }

  behavior of "rowNumber"

  it should "equal the monolithic row_number window" in {
    for (n <- sizes; w <- widths) {
      val df = frame(n)
      val win = df.withColumn("rn", row_number().over(
        Window.partitionBy(col("k")).orderBy(col("id"))).cast("long"))
      val got = ChunkedPrefix.rowNumber(df, Seq("k"), Seq(col("id")),
        ChunkedPrefix.idChunks(col("id"), w), "rn")
      parity(s"n=$n width=$w", got, win)
    }
  }

  behavior of "lagValue"

  it should "equal the monolithic lag-1 window" in {
    for (n <- sizes; w <- widths) {
      val df = frame(n)
      val win = df.withColumn("p", lag(col("v"), 1).over(
        Window.partitionBy(col("k")).orderBy(col("id"))))
      val got = ChunkedPrefix.lagValue(df, Seq("k"), Seq(col("id")),
        ChunkedPrefix.idChunks(col("id"), w), col("v"), "p")
      parity(s"n=$n width=$w", got, win)
    }
  }

  it should "break order ties identically under a compound order" in {
    // ts-style order with ties: order (t, id), chunk on t so tied rows
    // land in one chunk — mirrors ev_inter_arrival's (ts, event_id)
    val df = frame(200).withColumn("t", expr("id div 21"))
    val win = df.withColumn("p", lag(col("v"), 1).over(
      Window.partitionBy(col("k")).orderBy(col("t"), col("id"))))
    val got = ChunkedPrefix.lagValue(df, Seq("k"), Seq(col("t"), col("id")),
      ChunkedPrefix.idChunks(col("t"), 2L), col("v"), "p")
    parity("compound order", got, win)
  }

  behavior of "edge cases"

  it should "keep NULL partition keys as a window group, matching Window.partitionBy" in {
    // the carry join is null-safe (<=>): an equi-join would silently DROP
    // every null-keyed row where Window.partitionBy keeps them as a group
    val df = spark.range(300).select(
      (col("id") * 7).as("id"),
      when(col("id") % 4 === 0, lit(null).cast("string"))
        .otherwise((col("id") % 3).cast("string")).as("k"),
      ((col("id") * 37) % 5).as("v"))
    for (w <- Seq(3L, 64L)) {
      val ch = ChunkedPrefix.idChunks(col("id"), w)
      val winMax = df.withColumn("m", max(col("v")).over(
        Window.partitionBy(col("k")).orderBy(col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      parity(s"null-key max w=$w",
        ChunkedPrefix.runningMax(df, Seq("k"), Seq(col("id")), ch, col("v"), "m",
          inclusive = true), winMax)
      val winLag = df.withColumn("p", lag(col("v"), 1).over(
        Window.partitionBy(col("k")).orderBy(col("id"))))
      parity(s"null-key lag w=$w",
        ChunkedPrefix.lagValue(df, Seq("k"), Seq(col("id")), ch, col("v"), "p"), winLag)
      val winRn = df.withColumn("rn", row_number().over(
        Window.partitionBy(col("k")).orderBy(col("id"))).cast("long"))
      parity(s"null-key rowNumber w=$w",
        ChunkedPrefix.rowNumber(df, Seq("k"), Seq(col("id")), ch, "rn"), winRn)
    }
  }

  it should "equal the monolithic window when chunking a continuous domain (range + percentile)" in {
    // a SKEWED continuous order column (90% of values in a [900, 901)
    // sliver, tail spread to ~1e6) with ~8% NULLS: rangeChunks must file
    // null order values into the null chunk (least() alone would misfile
    // them into the LAST chunk and hand them the full carry), and
    // percentileChunks must stay order-exact while bounding cell mass
    for (n <- Seq(5, 97, 1000)) {
      // id rides along as the tiebreak: NULL p rows tie in the p order,
      // and an unpinned tie makes the running max plan-dependent (an
      // intermittent except() diff with no product bug)
      val df = spark.range(n).select(
        col("id"),
        (col("id") % 3).cast("string").as("k"),
        when(col("id") % 13 === 0, lit(null).cast("double"))
          .otherwise(when(col("id") % 10 < 9, lit(900.0) + col("id") * lit(1e-4))
            .otherwise(col("id").cast("double") * lit(1000.0))).as("p"),
        ((col("id") * 37) % 5).as("v"))
      val win = df.withColumn("m", max(col("v")).over(
        Window.partitionBy(col("k")).orderBy(col("p"), col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val st = df.agg(min(col("p")), max(col("p")),
        percentile_approx(col("p"), lit(Array(0.25, 0.5, 0.75)), lit(10000)))
        .collect()(0)
      if (!st.isNullAt(0)) {
        val (lo, hi) = (st.getDouble(0), st.getDouble(1))
        val rc = ChunkedPrefix.rangeChunks(col("p"), lo, hi, 8)
        parity(s"range n=$n", ChunkedPrefix.runningMax(
          df, Seq("k"), Seq(col("p"), col("id")), rc, col("v"), "m", inclusive = true), win)
        val pc = ChunkedPrefix.percentileChunks(col("p"),
          st.getSeq[Double](2).toSeq.sorted, lo, hi, subChunks = 4)
        parity(s"percentile n=$n", ChunkedPrefix.runningMax(
          df, Seq("k"), Seq(col("p"), col("id")), pc, col("v"), "m", inclusive = true), win)
        // the percentile chunker actually spreads the skewed sliver: with
        // 3 boundaries + 4 sub-chunks the 90% cluster cannot all land in
        // one chunk once it spans multiple percentile cells
        if (n >= 97) {
          val nonNull = df.filter(col("p").isNotNull)
          nonNull.select(pc.as("c")).distinct().count() should be > 2L
        }
      }
    }
  }

  it should "assign monotone chunk ids on random continuous domains" in {
    // randomized pin of the chunk-monotone-in-order contract for BOTH
    // continuous chunkers: sorted by value, chunk ids never decrease,
    // nulls get the null chunk, and ids stay inside [0, nChunks)
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    for (trial <- 0 until 8) {
      val lo = rnd.nextDouble() * 2000 - 1000
      val span = rnd.nextDouble() * 1e6 + 1e-3 // narrow through wide domains
      val hi = lo + span
      val n = 400
      val vals: Seq[Option[Double]] = (0 until n).map { _ =>
        if (rnd.nextInt(11) == 0) None
        // cluster most mass near lo to exercise the skew path
        else if (rnd.nextInt(10) < 8) Some(lo + rnd.nextDouble() * span * 0.01)
        else Some(lo + rnd.nextDouble() * span)
      }
      val df = vals.toDF("p")
      val nChunks = 1 + rnd.nextInt(12)
      val boundaries = (1 to 3).map(q => lo + span * q / 4.0)
      for ((name, ch) <- Seq(
        "range" -> ChunkedPrefix.rangeChunks(col("p"), lo, hi, nChunks),
        "percentile" -> ChunkedPrefix.percentileChunks(col("p"), boundaries, lo, hi,
          subChunks = nChunks))) {
        val rows = df.select(col("p"), ch.as("c")).collect()
          .map(r => (Option(r.get(0)).map(_.asInstanceOf[Double]),
            Option(r.get(1)).map(_.asInstanceOf[Long])))
        withClue(s"trial=$trial chunker=$name lo=$lo span=$span n=$nChunks: ") {
          rows.foreach { case (p, c) => c.isDefined shouldBe p.isDefined } // null ⇔ null
          val defined = rows.collect { case (Some(p), Some(c)) => (p, c) }.sortBy(_._1)
          defined.sliding(2).foreach {
            case Array((_, c1), (_, c2)) => c1 should be <= c2
            case _ =>
          }
          val cap = if (name == "range") nChunks else 4L * nChunks
          defined.foreach { case (_, c) => c should (be >= 0L and be < cap) }
        }
      }
    }
  }

  it should "return empty on empty input for all primitives" in {
    val df = frame(0)
    val ch = ChunkedPrefix.idChunks(col("id"), 4L)
    ChunkedPrefix.runningMax(df, Seq("k"), Seq(col("id")), ch, col("v"), "m",
      inclusive = true).count() shouldBe 0L
    ChunkedPrefix.runningSum(df, Seq("k"), Seq(col("id")), ch, col("v"), "s",
      inclusive = false).count() shouldBe 0L
    ChunkedPrefix.rowNumber(df, Seq("k"), Seq(col("id")), ch, "rn").count() shouldBe 0L
    ChunkedPrefix.lagValue(df, Seq("k"), Seq(col("id")), ch, col("v"), "p")
      .count() shouldBe 0L
  }

  it should "chunk timestamps with timeChunks consistently with the raw window" in {
    val df = frame(500).withColumn("ts", timestamp_micros(col("id") * 900000000L))
    val win = df.withColumn("wm", max(col("ts")).over(
      Window.partitionBy(col("k")).orderBy(col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // 1-hour chunks over 15-minute-spaced events: 4 rows per chunk
    val got = ChunkedPrefix.runningMax(df, Seq("k"), Seq(col("id")),
      ChunkedPrefix.timeChunks(col("ts"), 3600000000L), col("ts"), "wm",
      inclusive = true)
    parity("timeChunks", got, win)
  }

  behavior of "randomized parity (fixed-seed ScalaCheck frames)"

  // the fixed matrix pins chosen edge shapes; this pins shapes nobody
  // chose — random sizes, key cardinalities, widths, null densities and
  // value ranges (incl. Long extremes), unique ids for a total order
  it should "match the monolithic windows on random frames" in {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val cfg = for {
      n <- Gen.chooseNum(0, 1500)
      keyCard <- Gen.oneOf(1, 2, 7)
      width <- Gen.oneOf(1L, 5L, 97L, 1000000L)
      stride <- Gen.chooseNum(1, 11) // sparse ids: id = i * stride
      nullEvery <- Gen.oneOf(0, 3, 13) // 0 = no nulls
    } yield (n, keyCard, width, stride, nullEvery)
    val cases = (0 until 6).flatMap(i => cfg.apply(Gen.Parameters.default, Seed(7L + i)))
    cases.foreach { case (n, keyCard, width, stride, nullEvery) =>
      val v0 = (col("id") * 2654435761L) % 1000003L - 500000L
      val df = spark.range(n).select(
        (col("id") * stride).as("id"),
        (col("id") % keyCard).cast("string").as("k"),
        (if (nullEvery == 0) v0
         else when(col("id") % nullEvery === 0, lit(null).cast("long")).otherwise(v0))
          .as("v"))
      val ch = ChunkedPrefix.idChunks(col("id"), width)
      val tag = s"n=$n keys=$keyCard w=$width stride=$stride nulls=$nullEvery"
      parity(s"$tag max",
        ChunkedPrefix.runningMax(df, Seq("k"), Seq(col("id")), ch, col("v"), "o",
          inclusive = false),
        df.withColumn("o", max(col("v")).over(Window.partitionBy(col("k"))
          .orderBy(col("id")).rowsBetween(Window.unboundedPreceding, -1))))
      parity(s"$tag sum",
        ChunkedPrefix.runningSum(df, Seq("k"), Seq(col("id")), ch, col("v"), "o",
          inclusive = true),
        df.withColumn("o", coalesce(sum(col("v")).over(Window.partitionBy(col("k"))
          .orderBy(col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)), lit(0L))))
      parity(s"$tag lag",
        ChunkedPrefix.lagValue(df, Seq("k"), Seq(col("id")), ch, col("v"), "o"),
        df.withColumn("o", lag(col("v"), 1).over(
          Window.partitionBy(col("k")).orderBy(col("id")))))
      parity(s"$tag rn",
        ChunkedPrefix.rowNumber(df, Seq("k"), Seq(col("id")), ch, "o"),
        df.withColumn("o", row_number().over(
          Window.partitionBy(col("k")).orderBy(col("id"))).cast("long")))
    }
  }

  behavior of "ported operators"

  it should "window on the chunk column in every ported query's executed plan" in {
    val targets: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
      "ev_late_data" -> graft.operators.EventAnalytics.evLateData,
      "ev_inter_arrival" -> graft.operators.EventAnalytics.evInterArrival,
      "sl_watermark" -> graft.operators.StreamSemantics.slWatermark,
      "sl_gap_detect" -> graft.operators.StreamSemantics.slGapDetect,
      "sl_batch_assign" -> graft.operators.StreamSemantics.slBatchAssign,
      "sl_byte_batches" -> graft.operators.StreamSemantics.slByteBatches,
      "pipe_interleave" -> graft.operators.Pipeline.pipeInterleave,
      "pipe_budget_mix" -> graft.operators.Pipeline.pipeBudgetMix)
    targets.foreach { case (name, q) =>
      val plan = graft.tools.Dev.finalPlan(q(spark, sf))
      withClue(s"$name executed plan: ") {
        plan should include("__gp_chunk")
      }
    }
  }
}
