package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.native
import graft.text.TextFunctions

class FunctionsSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("TokenPolyHashes matches the higher-order-function formulation") {
    val df = Seq("The Quick  brown fox!  123 it's", "", "   ", "a.b c")
      .toDF("text")
    val a = df.select(native.token_poly_hashes(col("text"))).collect()
      .map(_.getSeq[Long](0))
    val b = df.select(TextFunctions.tokenHashes(col("text"))).collect()
      .map(_.getSeq[Long](0))
    a.zip(b).foreach { case (x, y) => assert(x == y, s"$x vs $y") }
  }

  test("ShinglePolyHashes matches the HOF combine") {
    val df = Seq("one two three four five", "a b", "x").toDF("text")
    val a = df.select(native.shingle_hashes(native.token_poly_hashes(col("text")), 3))
      .collect().map(_.getSeq[Long](0))
    val b = df.select(TextFunctions.shingleHashCombine(
        TextFunctions.tokenHashes(col("text")), 3))
      .collect().map(_.getSeq[Long](0))
    a.zip(b).foreach { case (x, y) => assert(x == y, s"$x vs $y") }
  }

  test("SortedIntersectCount equals size(array_intersect) on sorted distinct arrays") {
    val df = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 9L, 11L)),
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(4L), Seq(4L)),
      (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
      (Seq(-5L, 0L, 7L), Seq(-5L, 7L, 8L))
    ).toDF("a", "b")
    val fast = df.select(native.sorted_intersect_count(col("a"), col("b")))
      .collect().map(_.getLong(0))
    val ref = df.select(size(array_intersect(col("a"), col("b"))).cast("long"))
      .collect().map(_.getLong(0))
    assert(fast.toSeq == ref.toSeq)
    // randomized cross-check (sorted distinct inputs, the caller contract)
    val rnd = new scala.util.Random(42)
    val rand = (1 to 50).map { _ =>
      def arr = Seq.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong)
        .distinct.sorted
      (arr, arr.map(_ => rnd.nextInt(60).toLong).distinct.sorted)
    }.toDF("a", "b")
    val f2 = rand.select(native.sorted_intersect_count(col("a"), col("b")))
      .collect().map(_.getLong(0))
    val r2 = rand.select(size(array_intersect(col("a"), col("b"))).cast("long"))
      .collect().map(_.getLong(0))
    assert(f2.toSeq == r2.toSeq)
  }

  test("SortedIntersectCount and BoundedLev1 give null on null input in generated code") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    // spark.range keeps the projection in whole-stage codegen (a local
    // Seq would be folded and evaluated by the interpreter instead)
    val df = spark.range(3).select(
      when(col("id") === 0, lit(null).cast("array<bigint>"))
        .otherwise(array(lit(1L), lit(3L))).as("a"),
      array(lit(1L), lit(2L), lit(3L)).as("b"),
      when(col("id") === 1, lit(null).cast("string"))
        .otherwise(lit("kitten")).as("s"),
      lit("sitten").as("t"))
      .select(native.sorted_intersect_count(col("a"), col("b")).as("n"),
        native.bounded_lev1(col("s"), col("t")).as("d"))
    assert(df.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w }.nonEmpty)
    assert(df.schema("n").nullable && df.schema("d").nullable)
    val rows = df.collect()
    assert(rows(0).isNullAt(0) && rows(0).getInt(1) == 1)
    assert(rows(1).getLong(0) == 2L && rows(1).isNullAt(1))
    assert(rows(2).getLong(0) == 2L && rows(2).getInt(1) == 1)
  }

  test("MinHashSignature equals per-permutation array_min") {
    import graft.dedup.Dedup
    val df = Seq("one two three four five six seven").toDF("text")
    val sh = df.select(native.shingle_hashes(native.token_poly_hashes(col("text")), 3).as("sh"))
    val fast = sh.select(native.minhash_signature(col("sh"), Dedup.NumHashes))
      .head().getSeq[Long](0)
    val slow = (0 until Dedup.NumHashes).map { i =>
      sh.select(array_min(transform(col("sh"),
        h => (lit(Dedup.hashA(i)) * (h % Dedup.P) + lit(Dedup.hashB(i))) % Dedup.P)))
        .head().getLong(0)
    }
    assert(fast == slow)
  }

  test("SimHash bit semantics: single token yields its per-bit projection votes") {
    val sim = Seq("abc").toDF("text")
      .select(native.simhash(native.token_poly_hashes(col("text")), 32))
      .head().getLong(0)
    val th = Seq("abc").toDF("text")
      .select(native.token_poly_hashes(col("text"))).head().getSeq[Long](0).head
    // one token: bit j set iff its affine projection's low bit is 1
    // (votes come from (A_j·(h%P)+B_j) % P & 1, NOT bit j of the raw
    // hash — raw bits ≥ 30 are constant across docs since hashes < M)
    import graft.functions.HashConstants._
    val expected = (0 until 32).foldLeft(0L) { (acc, j) =>
      if (((hashA(j) * (th % P) + hashB(j)) % P & 1L) == 1L) acc | (1L << j) else acc
    }
    assert(sim == expected)
  }

  test("functions are SQL-callable after registration") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_simhash(graft_token_hashes('hello world'), 32) AS s").head().getLong(0)
    assert(r != 0L)
    val sig = spark.sql(
      "SELECT graft_minhash(graft_shingle_hashes(graft_token_hashes('one two three four'), 3), 16) AS m")
      .head().getSeq[Long](0)
    assert(sig.length == 16)
    // full surface: bucket expression, set-count, and the KMV aggregate
    val bucket = spark.sql(
      "SELECT graft_hyperplane_bucket(CAST(array(1.0, -2.0, 0.5) AS ARRAY<FLOAT>), 8, 3) AS b")
      .head().getLong(0)
    assert(bucket >= 0 && bucket < 256)
    val inSet = spark.sql(
      "SELECT graft_tokens_in_set(array('the', 'cat', 'sat'), 'the', 'a') AS n")
      .head().getLong(0)
    assert(inSet == 1L)
    val kmv = spark.sql(
      "SELECT graft_kmv(h, 4) AS s FROM (SELECT CAST(id * 7919 AS BIGINT) AS h FROM range(100))")
      .head().getSeq[Long](0)
    // round-3 kernels: merge fold, dot product, poly hash, and the two
    // new aggregates
    val merged = spark.sql(
      "SELECT graft_bpe_merge(array('a', 'b', 'a', 'a'), 'a', 'b') AS m")
      .head().getSeq[String](0)
    assert(merged == Seq("ab", "a", "a"))
    val dot = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(dot == 11.0)
    assert(spark.sql("SELECT graft_poly_hash('ab') AS h").head().getLong(0) == 12805L)
    val mks = spark.sql(
      "SELECT graft_min_k_strings(s, 2) AS m FROM (SELECT CAST(id AS STRING) AS s FROM range(5))")
      .head().getSeq[String](0)
    assert(mks == Seq("0", "1"))
    val vm = spark.sql(
      "SELECT graft_vector_mean(v, 6) AS m FROM (SELECT array(CAST(id AS DOUBLE), 1.0D) AS v FROM range(3))")
      .head().getSeq[Double](0)
    assert(vm == Seq(1.0, 1.0))
    assert(kmv.length == 4 && kmv == kmv.sorted)
    // sketch aggregates round out the registry: HLL, KLL, Count-Min
    // HLL assumes uniform hash input — feed it the repo's 60-bit md5
    val hll = spark.sql(
      "SELECT graft_hll(CAST(conv(substring(md5(CAST(id AS STRING)), 1, 15), 16, 10) AS BIGINT)) AS e FROM range(1000)")
      .head().getDouble(0)
    assert(math.abs(hll - 1000.0) / 1000.0 < 0.1)
    val kll = spark.sql(
      "SELECT graft_quantile(CAST(id AS DOUBLE), 1024, 0.5) AS q FROM range(101)")
      .head().getSeq[Double](0)
    assert(kll == Seq(50.0))
    val cms = spark.sql(
      "SELECT graft_cms(CAST(id % 3 AS BIGINT)) AS c FROM range(300)")
      .head().getSeq[Long](0)
    assert(cms.length == graft.functions.CountMin.D * graft.functions.CountMin.W)
    // each of the D rows holds the full inserted mass
    for (i <- 0 until graft.functions.CountMin.D)
      assert(cms.slice(i * graft.functions.CountMin.W,
        (i + 1) * graft.functions.CountMin.W).sum == 300L)
  }

  test("bloom filter: no false negatives, low false-positive rate, partition-invariant") {
    import graft.functions.BloomFilter.{bloom_agg, bloom_contains}
    val members = (0 until 1000).map(i => i * 7919L + 13L)
    val bloomDf = members.toDF("h").agg(bloom_agg(col("h")).as("bf"))
    val bloom = bloomDf.head().getAs[Array[Byte]](0)
    // no false negatives: every member must be contained
    val missed = members.toDF("h").crossJoin(broadcast(bloomDf))
      .filter(!bloom_contains(col("bf"), col("h"))).count()
    assert(missed == 0, "bloom reported a member absent — false negative")
    // false positives: 2^20 bits, k=5, n=1000 → fpp ≈ (1-e^(-5k/m))^5 ~ 1e-11;
    // allow a generous margin over 10k non-members
    val nonMembers = (0 until 10000).map(i => i * 104729L + 7L)
      .filterNot(members.contains(_))
    val fp = nonMembers.toDF("h").crossJoin(broadcast(bloomDf))
      .filter(bloom_contains(col("bf"), col("h"))).count()
    assert(fp <= 5, s"false-positive count $fp too high for this sizing")
    // merge correctness: the bloom is a bitwise OR, so partitioning must
    // not change the result (map-side partials merge losslessly)
    val bloom8 = members.toDF("h").repartition(8)
      .agg(bloom_agg(col("h")).as("bf")).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(bloom, bloom8),
      "bloom bytes differ under repartitioning — merge is not lossless")
  }

  test("GramAgg: exact BigInt sums/gram, 128-bit carries, partition-invariant") {
    import spark.implicits._
    import graft.functions.GramAgg.gram_agg
    // values chosen so per-cell sums overflow int64 (3e9² = 9e18 per
    // row, two rows cross 2^63) and include negatives (sign-extended
    // 128-bit adds)
    val vecs = Seq(
      Array(3000000000L, -2999999999L, 7L),
      Array(2999999993L, 3000000001L, -5L),
      Array(-13L, 17L, 3000000000L),
      Array(1L, -1L, 1L))
    val expectedSums = (0 until 3).map(j =>
      vecs.map(v => BigInt(v(j))).sum)
    val expectedGram = for (j <- 0 until 3; k <- 0 until 3) yield
      vecs.map(v => BigInt(v(j)) * BigInt(v(k))).sum
    def run(parts: Int): Seq[String] =
      vecs.toDF("e").repartition(parts)
        .agg(gram_agg(col("e"))).head().getSeq[String](0)
    val cells = run(1)
    assert(cells.head == "4")
    assert((0 until 3).forall(j =>
      BigInt(cells(1 + j)) == expectedSums(j)), "linear sums")
    assert(expectedGram.zipWithIndex.forall { case (g, i) =>
      BigInt(cells(4 + i)) == g }, "gram cells (incl. >2^63 magnitudes)")
    // symmetric matrix, partition-invariant merge
    assert(cells == run(3))
    for (j <- 0 until 3; k <- 0 until 3)
      assert(cells(4 + 3 * j + k) == cells(4 + 3 * k + j))
  }
}
