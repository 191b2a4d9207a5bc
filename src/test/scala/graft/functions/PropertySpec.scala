package graft.functions

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Property-based coverage for graft's native functions (the reference
  * pins its encoders the same way in its stream-loader-tests property
  * suites). Uses ScalaCheck generators with a fixed seed driven from a
  * plain loop — the scalatestplus bridge isn't available offline.
  */
class PropertySpec extends AnyFlatSpec with Matchers {

  private def samples[T](gen: Gen[T], n: Int = 200): Seq[T] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))

  behavior of "LEB128"

  it should "round-trip any non-negative long at minimal length" in {
    samples(Gen.chooseNum(0L, Long.MaxValue)).foreach { n =>
      val out = new ByteArrayOutputStream()
      RowBinaryEncode.writeLeb128(out, n)
      val bytes = out.toByteArray
      var (v, shift, i) = (0L, 0, 0)
      var continue = true
      while (continue) {
        val b = bytes(i) & 0xff
        v |= (b & 0x7fL) << shift
        shift += 7; i += 1
        continue = (b & 0x80) != 0
      }
      withClue(s"n=$n: ") {
        v shouldBe n
        i shouldBe bytes.length
        val expectLen = math.max(1, (64 - java.lang.Long.numberOfLeadingZeros(n) + 6) / 7)
        bytes.length shouldBe expectLen
      }
    }
  }

  behavior of "MinHashSig"

  private def sig(shingles: Seq[String]): Seq[String] = {
    val arr = new GenericArrayData(shingles.map(s => UTF8String.fromString(s)).toArray[Any])
    val out = MinHashSig.compute(arr)
    (0 until out.numElements()).map(i => out.getUTF8String(i).toString)
  }

  private val shingleGen: Gen[List[String]] =
    Gen.nonEmptyListOf(Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString))

  it should "merge by elementwise min over concatenated shingle sets" in {
    samples(Gen.zip(shingleGen, shingleGen), 100).foreach { case (a, b) =>
      val merged = sig(a ++ b)
      val expected = sig(a).zip(sig(b)).map { case (x, y) => if (x <= y) x else y }
      withClue(s"a=$a b=$b: ")(merged shouldBe expected)
    }
  }

  it should "be order- and duplication-insensitive" in {
    val rnd = new scala.util.Random(7)
    samples(shingleGen, 100).foreach { a =>
      sig(rnd.shuffle(a ++ a)) shouldBe sig(a)
    }
  }

  behavior of "MinHashTokens"

  private val tokenGen: Gen[List[String]] =
    Gen.listOf(Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString))

  it should "equal MinHashSig over the explicit 3-gram shingles for any token list" in {
    // the fused expression IS shingles3 ∘ graft_minhash — pin the
    // equivalence so the two definitions of a signature can never drift
    // (the batch oracle queries and the streaming near-dup gate both
    // depend on it)
    samples(tokenGen, 200).foreach { toks =>
      val arr = new GenericArrayData(toks.map(t => UTF8String.fromString(t)).toArray[Any])
      val fused = MinHashSig.computeFromTokens(arr)
      val shingles = toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
      val composed = MinHashSig.compute(
        new GenericArrayData(shingles.map(s => UTF8String.fromString(s)).toArray[Any]))
      withClue(s"toks=$toks: ") {
        (0 until 8).map(i => Option(fused.getUTF8String(i)).map(_.toString)) shouldBe
          (0 until 8).map(i => Option(composed.getUTF8String(i)).map(_.toString))
      }
    }
  }

  it should "return all-null slots below 3 tokens" in {
    Seq(Nil, List("a"), List("a", "b")).foreach { toks =>
      val arr = new GenericArrayData(toks.map(t => UTF8String.fromString(t)).toArray[Any])
      val out = MinHashSig.computeFromTokens(arr)
      (0 until 8).foreach(i => out.isNullAt(i) shouldBe true)
    }
  }

  it should "form a salt-prefix chain at every width (the dd_sig_width contract)" in {
    // computeFromTokensN(toks, g) must be EXACTLY the first 4g slots of
    // the widest signature — salt g's digest never depends on the salt
    // count; a violated chain would silently desynchronize the width
    // card's 8/16-perm rows from the one 32-perm pass it slices
    val tokGen: Gen[List[String]] =
      Gen.listOfN(6, Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString))
    samples(tokGen, 60).foreach { toks =>
      val arr = new GenericArrayData(toks.map(t => UTF8String.fromString(t)).toArray[Any])
      def slots(g: Int): Seq[Option[String]] = {
        val out = MinHashSig.computeFromTokensN(arr, g)
        (0 until out.numElements()).map(i =>
          if (out.isNullAt(i)) None else Some(out.getUTF8String(i).toString))
      }
      val widest = slots(8)
      widest.length shouldBe 32
      (1 to 7).foreach { g =>
        withClue(s"toks=$toks g=$g: ") { slots(g) shouldBe widest.take(4 * g) }
      }
      // and 2 salts IS the shipped signature
      slots(2) shouldBe {
        val out = MinHashSig.computeFromTokens(arr)
        (0 until out.numElements()).map(i =>
          if (out.isNullAt(i)) None else Some(out.getUTF8String(i).toString))
      }
    }
  }

  behavior of "ScriptCensus"

  private val mixedTextGen: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.asciiPrintableChar.map(_.toInt),
    2 -> Gen.chooseNum(0x4E00, 0x9FFF), // cjk
    1 -> Gen.chooseNum(0x370, 0x3FF), // greek (uncovered -> other)
    1 -> Gen.chooseNum(0x1F300, 0x1F64F), // astral emoji (other)
    1 -> Gen.oneOf(0xFFFD, 0x01, 0x85), // damage markers (bad)
    1 -> Gen.chooseNum(0x400, 0x4FF))) // cyrillic
    .map(cps => new String(cps.toArray, 0, cps.length))

  it should "partition every codepoint into exactly one class, totals tying out" in {
    samples(mixedTextGen, 150).foreach { text =>
      val out = ScriptCensus.compute(UTF8String.fromString(text))
      val slots = (0 until 10).map(out.getLong)
      val cps = text.codePoints().toArray
      withClue(s"text=${text.take(40)}…: ") {
        slots(0) shouldBe cps.length.toLong
        slots.drop(1).sum shouldBe slots(0) // classes partition the total
        // kernel == the shared classifier, slot by slot
        val byClass = cps.groupBy(ScriptCensus.slotOf).view.mapValues(_.length.toLong)
        (1 to 9).foreach(k => slots(k) shouldBe byClass.getOrElse(k, 0L))
        cps.foreach(cp => ScriptCensus.slotOf(cp) should (be >= 1 and be <= 9))
      }
    }
  }

  behavior of "DotProduct eval"

  it should "match the naive double fold on random float vectors" in {
    val vecGen = Gen.listOfN(64, Gen.chooseNum(-100f, 100f))
    samples(Gen.zip(vecGen, vecGen), 100).foreach { case (a, b) =>
      val arrA = new GenericArrayData(a.toArray[Any])
      val arrB = new GenericArrayData(b.toArray[Any])
      val expr = DotProduct(
        org.apache.spark.sql.catalyst.expressions.Literal.create(null,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(null,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))
      val got = expr.nullSafeEval(arrA, arrB).asInstanceOf[Double]
      val want = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
      got shouldBe want // bit-identical: same fold order
    }
  }

  behavior of "PqAdcScore eval"

  private val pqExpr = PqAdcScore(
    org.apache.spark.sql.catalyst.expressions.Literal.create(null,
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)),
    org.apache.spark.sql.catalyst.expressions.Literal.create(null,
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)))

  it should "match the naive table-lookup fold on random LUTs and codes" in {
    val m = 8; val k = 16
    val lutGen = Gen.listOfN(m * k, Gen.chooseNum(-10.0, 10.0))
    val codesGen = Gen.listOfN(m, Gen.chooseNum(0L, (k - 1).toLong))
    samples(Gen.zip(lutGen, codesGen), 100).foreach { case (lut, codes) =>
      val got = pqExpr.nullSafeEval(
        new GenericArrayData(lut.toArray[Any]),
        new GenericArrayData(codes.toArray[Any])).asInstanceOf[Double]
      val want = codes.zipWithIndex.foldLeft(0.0) { case (acc, (c, j)) =>
        acc + lut(j * k + c.toInt)
      }
      got shouldBe want
    }
  }

  it should "reject out-of-range codes and mis-shaped LUTs loudly" in {
    val lut = new GenericArrayData(Array.fill[Any](128)(0.0))
    an[IllegalArgumentException] should be thrownBy
      pqExpr.nullSafeEval(lut, new GenericArrayData(Array[Any](0L, 1L, 2L, 3L, 4L, 5L, 6L, 16L)))
    an[IllegalArgumentException] should be thrownBy
      pqExpr.nullSafeEval(lut, new GenericArrayData(Array[Any](0L, -1L, 2L, 3L, 4L, 5L, 6L, 7L)))
    an[IllegalArgumentException] should be thrownBy
      pqExpr.nullSafeEval(new GenericArrayData(Array.fill[Any](100)(0.0)),
        new GenericArrayData(Array[Any](0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L)))
  }
  behavior of "MultiFileCommit.FuzzyTotalFold"

  it should "close every batch exactly when its own budget is reached, at zero spread" in {
    import graft.streaming.MultiFileCommit
    val caseGen = for {
      maxB <- Gen.option(Gen.chooseNum(1L, 500L))
      maxR <- Gen.option(Gen.chooseNum(1L, 20L))
      if maxB.nonEmpty || maxR.nonEmpty
      sizes <- Gen.nonEmptyListOf(Gen.chooseNum(1L, 400L))
    } yield (maxB, maxR, sizes)
    samples(caseGen, 300).foreach { case (maxB, maxR, sizes) =>
      val fold = new MultiFileCommit.FuzzyTotalFold(maxB.map((_, 0L)), maxR.map((_, 0L)), 0L)
      fold.reset(0L)
      val ids = sizes.map(fold.next)
      // consecutive numbering from zero, advancing by at most one
      ids.head shouldBe 0L
      ids.zip(ids.tail).foreach { case (a, b) => (b - a) should (be >= 0L and be <= 1L) }
      val batches = sizes.zip(ids).groupBy(_._2).toSeq.sortBy(_._1).map(_._2.map(_._1))
      batches.dropRight(1).foreach { b =>
        // a closed batch reached SOME budget...
        (maxB.exists(b.sum >= _) || maxR.exists(b.length >= _)) shouldBe true
        // ...and only with its final record (minimality: no overshoot carry)
        (maxB.exists(b.dropRight(1).sum >= _) ||
          maxR.exists(b.length - 1 >= _)) shouldBe false
      }
      // the open (last) batch never exceeds a budget except by one record
      val last = batches.last
      maxR.foreach(r => last.length.toLong should be <= r)
      // reset() restarts numbering for a new partition group
      fold.reset(1L)
      fold.next(1L) shouldBe 0L
    }
  }

  behavior of "ProtoWire"

  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types._

  private val protoSchema = StructType(Seq(
    StructField("l", LongType, nullable = true),
    StructField("i", IntegerType, nullable = true),
    StructField("b", BooleanType, nullable = true),
    StructField("d", DoubleType, nullable = true),
    StructField("f", FloatType, nullable = true),
    StructField("s", StringType, nullable = true),
    StructField("y", BinaryType, nullable = true),
    StructField("vl", ArrayType(LongType), nullable = true),
    StructField("vf", ArrayType(FloatType), nullable = true)))

  private val protoRowGen: Gen[InternalRow] = for {
    l <- Gen.option(Gen.chooseNum(Long.MinValue, Long.MaxValue))
    i <- Gen.option(Gen.chooseNum(Int.MinValue, Int.MaxValue))
    b <- Gen.option(Gen.oneOf(true, false))
    d <- Gen.option(Gen.oneOf(Gen.chooseNum(-1e300, 1e300),
      Gen.oneOf(0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
        Double.MinPositiveValue)))
    f <- Gen.option(Gen.oneOf(Gen.chooseNum(-1e30f, 1e30f),
      Gen.oneOf(0.0f, -0.0f, Float.NaN, Float.MaxValue)))
    s <- Gen.option(Gen.oneOf(Gen.alphaNumStr, Gen.const(""), Gen.const("héllo wörld 日本語  ")))
    y <- Gen.option(Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray))
    vl <- Gen.option(Gen.listOf(Gen.chooseNum(Long.MinValue, Long.MaxValue)))
    vf <- Gen.option(Gen.listOf(Gen.chooseNum(-1e30f, 1e30f)))
  } yield InternalRow(
    l.orNull, i.map(Int.box).orNull, b.map(Boolean.box).orNull, d.map(Double.box).orNull,
    f.map(Float.box).orNull, s.map(UTF8String.fromString).orNull, y.orNull,
    vl.map(xs => new GenericArrayData(xs.toArray[Any])).orNull,
    vf.map(xs => new GenericArrayData(xs.toArray[Any])).orNull)

  it should "round-trip arbitrary rows including extremes through encode∘decode" in {
    samples(protoRowGen, 300).foreach { row =>
      val bytes = ProtoWire.encodeRow(row, protoSchema.fields)
      val back = ProtoWire.decodeRow(bytes, protoSchema)
      (0 until protoSchema.length).foreach { i =>
        withClue(s"field ${protoSchema(i).name}: ") {
          if (row.isNullAt(i)) back.isNullAt(i) shouldBe true
          else protoSchema(i).dataType match {
            case LongType => back.getLong(i) shouldBe row.getLong(i)
            case IntegerType => back.getInt(i) shouldBe row.getInt(i)
            case BooleanType => back.getBoolean(i) shouldBe row.getBoolean(i)
            case DoubleType => // bit-compare: NaN != NaN under ==
              java.lang.Double.doubleToLongBits(back.getDouble(i)) shouldBe
                java.lang.Double.doubleToLongBits(row.getDouble(i))
            case FloatType =>
              java.lang.Float.floatToIntBits(back.getFloat(i)) shouldBe
                java.lang.Float.floatToIntBits(row.getFloat(i))
            case StringType => back.getUTF8String(i) shouldBe row.getUTF8String(i)
            case BinaryType => back.getBinary(i).toSeq shouldBe row.getBinary(i).toSeq
            case ArrayType(LongType, _) =>
              back.getArray(i).toLongArray().toSeq shouldBe row.getArray(i).toLongArray().toSeq
            case ArrayType(FloatType, _) =>
              back.getArray(i).toFloatArray().map(java.lang.Float.floatToIntBits).toSeq shouldBe
                row.getArray(i).toFloatArray().map(java.lang.Float.floatToIntBits).toSeq
            case t => fail(s"unhandled $t")
          }
        }
      }
    }
  }

  it should "never crash on arbitrary (possibly corrupt) byte blobs" in {
    val blobGen = Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    var decoded = 0
    samples(blobGen, 300).foreach { bytes =>
      try { ProtoWire.decodeRow(bytes, protoSchema); decoded += 1 }
      catch { case e: IllegalArgumentException =>
        e.getMessage should include("graft_proto_decode") }
    }
    decoded should be >= 1 // the empty blob at least decodes to all-null
  }
}
