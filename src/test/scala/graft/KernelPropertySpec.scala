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
  * it replaces on random batches (nulls, empties and duplicate-heavy
  * values included), both interpreted and through whole-stage codegen.
  * The seed is fixed, so a failure replays. */
class KernelPropertySpec extends AnyFunSuite {
  import SparkTestSession.{spark, withConf}

  /** `kernel` and `reference` over one batch of `rows`, evaluated the
    * `codegen` way; the (input, kernel, reference) rows that differ. */
  private def mismatches(rows: Seq[Row], schema: StructType, kernel: Column,
      reference: Column, codegen: Boolean): Seq[Row] = {
    // an RDD-backed frame: a local Seq would be folded by the optimizer
    // and evaluated by the interpreter whatever the mode
    def run(): Seq[Row] = {
      val df: DataFrame = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
        .select(col("*"), kernel.as("k"), reference.as("r"))
      val stages = df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
      assert(stages.nonEmpty === codegen, df.queryExecution.executedPlan)
      df.filter(not(col("k") <=> col("r"))).collect().toSeq
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
}
