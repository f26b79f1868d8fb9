package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.native

/** ScalaCheck properties: each native kernel equals the Spark built-in
  * or higher-order-function formulation it replaces on random batches
  * (null arrays and elements, empties, length-1 and duplicate-heavy
  * values included), both interpreted and through whole-stage codegen.
  * The seed is fixed, so a failure replays. */
class KernelPropertySpec extends AnyFunSuite {
  import SparkTestSession.{spark, withConf}

  /** `kernel` and `reference` over one batch of `rows`, evaluated the
    * `codegen` way; the (input, kernel, reference) triples that differ.
    * Each runs in its own frame: a higher-order function is
    * CodegenFallback and would take a shared projection out of
    * whole-stage codegen. */
  private def mismatches(rows: Seq[Row], schema: StructType, kernel: Column,
      reference: Column, codegen: Boolean): Seq[(Row, Any, Any)] = {
    // an RDD-backed frame: a local Seq would be folded by the optimizer
    // and evaluated by the interpreter whatever the mode
    def eval(c: Column): (DataFrame, Seq[Any]) = {
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema).select(c)
      (df, df.collect().toSeq.map(_.get(0)))
    }
    def run(): Seq[(Row, Any, Any)] = {
      val (df, k) = eval(kernel)
      val stages = df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
      assert(stages.nonEmpty === codegen, df.queryExecution.executedPlan)
      rows.lazyZip(k).lazyZip(eval(reference)._2).filter((_, x, y) => x != y).toSeq
    }
    if (codegen)
      withConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false")(run())
    else
      withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
  }

  private def check(batch: Gen[Seq[Row]], schema: StructType, kernel: Column,
      reference: Column): Unit =
    for (codegen <- Seq(false, true)) {
      val prop = Prop.forAllNoShrink(batch) { rows =>
        val bad = mismatches(rows, schema, kernel, reference, codegen)
        bad.isEmpty :| s"codegen=$codegen, first mismatch (input, kernel, reference): ${bad.headOption}"
      }
      val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(8)
        .withInitialSeed(org.scalacheck.rng.Seed(20261019L)), prop)
      assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    }

  private def nullable[T](g: Gen[T], nullPct: Int): Gen[T] =
    Gen.frequency(nullPct -> Gen.const(null.asInstanceOf[T]), (100 - nullPct) -> g)

  /** Arrays of `elem`: null, empty, length 1 and up to `maxLen` long. */
  private def arrays[T](elem: Gen[T], maxLen: Int = 6): Gen[Seq[T]] = nullable(Gen.frequency(
    1 -> Gen.const(Seq.empty[T]), 1 -> elem.map(Seq(_)),
    4 -> Gen.choose(2, maxLen).flatMap(Gen.listOfN(_, elem))), 10)

  /** Batches of array pairs, mostly of equal length (the kernels'
    * real input), sometimes of unrelated lengths or null. */
  private def arrayPairs[T](elem: Gen[T]): Gen[Seq[Row]] = Gen.listOfN(200, for {
    a <- arrays(elem)
    b <- if (a == null) arrays(elem)
      else Gen.frequency(1 -> arrays(elem), 3 -> nullable(Gen.listOfN(a.size, elem), 5))
  } yield Row(a, b))

  private def batch[T](g: Gen[T]): Gen[Seq[Row]] = Gen.listOfN(200, g.map(Row(_)))

  /** `nonEmpty` where the HOF formulation is defined, empty where the
    * kernel returns no elements, null for a null input: `sequence(1, 0)`
    * counts down, so the HOF needs the guard the kernel has. */
  private def guarded(in: Column, defined: Column, nonEmpty: Column): Column =
    when(in.isNull, lit(null)).when(defined, nonEmpty).otherwise(array())

  test("sorted_intersect_count = size(array_intersect) on sort_array(array_distinct) arrays") {
    // duplicate-heavy small values plus the extremes; null elements and
    // null and empty arrays
    val elem: Gen[java.lang.Long] = nullable(Gen.frequency(
      8 -> Gen.choose(-6L, 6L), 1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L)
    ).map(java.lang.Long.valueOf), 5)
    val arr: Gen[Seq[java.lang.Long]] =
      nullable(Gen.choose(0, 12).flatMap(Gen.listOfN(_, elem)), 10)
    val batch = Gen.listOfN(200, Gen.zip(arr, arr)).map(_.map { case (a, b) => Row(a, b) })
    val schema = StructType(Seq(StructField("a", ArrayType(LongType)),
      StructField("b", ArrayType(LongType))))
    val a = sort_array(array_distinct(col("a")))
    val b = sort_array(array_distinct(col("b")))
    check(batch, schema, native.sorted_intersect_count(a, b),
      when(a.isNotNull && b.isNotNull, size(array_intersect(a, b)).cast("long")))
  }

  test("bounded_lev1 = levenshtein mapped to {0, 1, -1} on random ASCII strings") {
    val ascii: Gen[String] = Gen.choose(0, 8).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(3 -> Gen.oneOf('a', 'b'), 1 -> Gen.choose(' ', '~')))
        .map(_.mkString))
    // one edit away often enough that 0 and 1 are well covered
    def edit(s: String): Gen[String] = for {
      i <- Gen.choose(0, s.length)
      c <- Gen.oneOf('a', 'b', 'z')
      op <- Gen.choose(0, 3)
    } yield {
      val (pre, post) = s.splitAt(i)
      op match {
        case 0 => s
        case 1 => pre + c + post // insert
        case 2 => pre + post.drop(1) // delete
        case _ => pre + c + post.drop(1) // substitute
      }
    }
    val pair = for {
      s <- nullable(ascii, 5)
      t <- if (s == null) ascii else Gen.frequency(1 -> ascii, 2 -> edit(s))
      swap <- Gen.oneOf(false, true)
      tn <- nullable(Gen.const(t), 5)
    } yield if (swap) Row(tn, s) else Row(s, tn)
    val schema = StructType(Seq(StructField("s", StringType), StructField("t", StringType)))
    val lev = levenshtein(col("s"), col("t"))
    check(Gen.listOfN(400, pair), schema, native.bounded_lev1(col("s"), col("t")),
      when(lev > 1, -1).otherwise(lev))
  }

  test("adjacent_pairs = transform(sequence) of neighbouring symbols, null symbols kept") {
    val schema = StructType(Seq(StructField("s", ArrayType(StringType))))
    val s = col("s")
    val pairs = transform(sequence(lit(1), size(s) - 1),
      i => struct(element_at(s, i).as("a"), element_at(s, i + 1).as("b")))
    check(batch(arrays(nullable(Gen.oneOf("a", "b", "ab", ""), 10))), schema,
      native.adjacent_pairs(s), guarded(s, size(s) >= 2, pairs))
  }

  test("char_bigrams = transform(sequence, substr(s, i, 2)) over multi-byte text") {
    val str: Gen[String] = nullable(Gen.choose(0, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "\u00e9", "\u4e2d", "\ud83d\ude00")).map(_.mkString)), 10)
    val schema = StructType(Seq(StructField("s", StringType)))
    val s = col("s")
    check(batch(str), schema, native.char_bigrams(s), guarded(s, length(s) >= 2,
      transform(sequence(lit(1), length(s) - 1), i => s.substr(i, lit(2)))))
  }

  test("long_slice_join = array_join(transform(slice, cast as string)), nulls skipped") {
    val elem: Gen[java.lang.Long] = nullable(Gen.frequency(
      4 -> Gen.choose(-20L, 20L), 1 -> Gen.oneOf(Long.MinValue, Long.MaxValue)
    ).map(java.lang.Long.valueOf), 10)
    val schema = StructType(Seq(StructField("a", ArrayType(LongType))))
    val a = col("a")
    for ((start0, len) <- Seq((0, 4), (3, 2), (8, 4)))
      check(batch(arrays(elem, maxLen = 10)), schema, native.long_slice_join(a, start0, len, ":"),
        array_join(transform(slice(a, start0 + 1, len), _.cast("string")), ":"))
  }

  test("to_double_array = transform(cast as double), null elements kept") {
    val elem: Gen[java.lang.Float] = nullable(Gen.frequency(
      4 -> Gen.choose(-4f, 4f), 1 -> Gen.oneOf(Float.MaxValue, Float.MinPositiveValue, -0f,
        Float.PositiveInfinity)).map(java.lang.Float.valueOf), 10)
    val schema = StructType(Seq(StructField("a", ArrayType(FloatType))))
    check(batch(arrays(elem)), schema, native.to_double_array(col("a")),
      transform(col("a"), _.cast("double")))
  }

  test("dot_product_fold = aggregate(zip_with(x * y)) over float and double arrays") {
    val f: Gen[java.lang.Float] = nullable(Gen.choose(-4f, 4f).map(java.lang.Float.valueOf), 5)
    val schema = StructType(Seq(StructField("a", ArrayType(FloatType)),
      StructField("b", ArrayType(DoubleType))))
    // b holds doubles no float can: the float and the double path both run
    val pairs = arrayPairs(f).map(_.map { r =>
      val b = Option(r.getSeq[java.lang.Float](1)).map(_.map(x =>
        if (x == null) null else java.lang.Double.valueOf(x.doubleValue * 0.5 - 0.1))).orNull
      Row(r.get(0), b)
    })
    for ((x, y) <- Seq((col("a"), col("b")), (col("a"), col("a")), (col("b"), col("b"))))
      check(pairs, schema, native.dot_product_fold(x, y),
        aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")), lit(0.0),
          (acc, v) => acc + v))
  }

  test("equal_count = aggregate(zip_with(x = y ? 1 : 0)), null on a length mismatch") {
    val elem: Gen[java.lang.Long] = nullable(Gen.choose(-2L, 2L).map(java.lang.Long.valueOf), 10)
    val schema = StructType(Seq(StructField("a", ArrayType(LongType)),
      StructField("b", ArrayType(LongType))))
    val (a, b) = (col("a"), col("b"))
    // the kernel's stricter contract: the fold zip_with-pads a length
    // mismatch, the kernel refuses it
    check(arrayPairs(elem), schema, native.equal_count(a, b), when(size(a) === size(b),
      aggregate(zip_with(a, b, (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), _ + _)))
  }
}
