package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

class CachesSpec extends AnyFunSuite {
  import SparkTestSession.spark

  test("MemoCache builds once per (session, dir) and clears on demand") {
    var builds = 0
    val cache = new MemoCache[Int](4)(_ => ())
    def get(dir: String) = cache.getOrElseUpdate(spark, dir) { builds += 1; builds }
    assert(get("a") == 1 && get("a") == 1 && builds == 1)
    assert(get("b") == 2 && builds == 2)
    cache.clear()
    assert(cache.size == 0)
    assert(get("a") == 3 && builds == 3) // rebuilt after clear
  }

  test("MemoCache bounds entries and eviction unpersists the evicted frame") {
    val cache = new MemoCache[org.apache.spark.sql.DataFrame](2)(
      _.unpersist(blocking = true))
    // distinct plans per dir — identical plans would share one
    // CacheManager entry and confuse the storageLevel probe
    def put(dir: String, n: Int) = cache.getOrElseUpdate(spark, dir)(
      spark.range(n).toDF("v").persist(StorageLevel.MEMORY_AND_DISK))
    val first = put("d1", 10); put("d2", 20); put("d3", 30) // d1 oldest → evicted
    assert(cache.size == 2)
    assert(first.storageLevel == StorageLevel.NONE,
      s"evicted frame still persisted at ${first.storageLevel}")
    val d2 = cache.getOrElseUpdate(spark, "d2")(fail("d2 should be cached"))
    assert(d2.count() == 20)
    assert(d2.storageLevel != StorageLevel.NONE)
    cache.clear()
    assert(d2.storageLevel == StorageLevel.NONE, "clear() must unpersist")
  }

  private def barrier(n: Int) = Barrier("spec", spark.range(n).toDF("v"), eager = true)

  test("releaseStorage frees localCheckpoint blocks on eviction " +
       "(plain unpersist is a no-op on them — ADVICE r10)") {
    // the entry owns the barrier its build cuts, so no evictor is needed
    val cache = new MemoCache[org.apache.spark.sql.DataFrame](1)(_ => ())
    // a localCheckpointed RDD lives in sc.getPersistentRDDs until ITS
    // unpersist runs; RDD.unpersist drops the registry entry
    // synchronously even with blocking=false, so the registry size is
    // a deterministic release signal (Dataset.unpersist never reaches
    // that RDD and would leave it registered)
    def registered() = spark.sparkContext.getPersistentRDDs.size
    SparkTestSession.releaseAll() // drop what sibling tests left persisted
    assert(registered() == 0)
    def put(dir: String, n: Int) = cache.getOrElseUpdate(spark, dir)(barrier(n))
    put("c1", 1000)
    assert(registered() == 1, "localCheckpoint RDD not registered?")
    put("c2", 2000) // evicts c1 (capacity 1) → its barrier is released
    assert(registered() == 1,
      "evicted localCheckpoint RDD still registered — blocks leaked")
    cache.clear()
    assert(registered() == 0, "clear() must release checkpoint blocks")
  }

  test("a scope releases its barriers when it closes, also when the body throws") {
    SparkTestSession.releaseAll()
    val (_, names) = Barrier.scope {
      // held: the registry keeps weak references, and a GC would let the
      // ContextCleaner unpersist an unreachable barrier before the check
      val held = Seq(barrier(10), barrier(20))
      assert(SparkTestSession.persistedIds.size == 2, held)
    }
    assert(names == Seq("spec", "spec"))
    assert(SparkTestSession.persistedIds.isEmpty, "closed scope left its barriers")
    intercept[IllegalStateException](Barrier.scope {
      barrier(30)
      throw new IllegalStateException("query failed")
    })
    assert(SparkTestSession.persistedIds.isEmpty, "failed scope left its barrier")
  }

  test("a barrier built in a memo entry outlives the scope and goes with clear()") {
    SparkTestSession.releaseAll()
    val cache = new MemoCache[org.apache.spark.sql.DataFrame](4)(_ => ())
    val (memo, names) = Barrier.scope {
      val m = cache.getOrElseUpdate(spark, "d")(barrier(10))
      barrier(20) // the scope's own
      m
    }
    assert(names == Seq("spec"), "the entry's barrier belongs to the entry")
    assert(SparkTestSession.persistedIds.size == 1)
    assert(memo.count() == 10) // a later query still reads the memoized blocks
    cache.clear()
    assert(SparkTestSession.persistedIds.isEmpty, "clear() must release the entry's barrier")
  }

  test("a barrier cut with no owner open stays registered") {
    SparkTestSession.releaseAll()
    val b = barrier(10)
    assert(SparkTestSession.persistedIds.size == 1)
    Barrier.release(b)
    assert(SparkTestSession.persistedIds.isEmpty)
  }

  test("Barrier is the only localCheckpoint call in src/main") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no $root under ${sys.props("user.dir")}")
    def callers(call: String, owner: String) = java.nio.file.Files.walk(root).iterator()
      .asScala.toSeq
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != owner)
      .filter(p => java.nio.file.Files.readString(p).contains(call))
    val raw = callers(".localCheckpoint(", "Barrier.scala")
    assert(raw.isEmpty, s"raw localCheckpoint calls (use graft.Barrier): ${raw.mkString(", ")}")
    // an observation on a lazy cut completes before its rows are computed
    // and reads 0, so only the eager cuts of graft.Rounds observe
    val observers = callers(".observe(", "Rounds.scala")
    assert(observers.isEmpty, s"observe outside graft.Rounds: ${observers.mkString(", ")}")
  }

  test("Rounds holds one cut at a time: the star loop on a 100-node chain") {
    import spark.implicits._
    SparkTestSession.releaseAll()
    val pairs = (0 until 99).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    val chain = pairs.select($"id_b".as("src"), $"id_a".as("dst")) // src > dst
    val held = scala.collection.mutable.ArrayBuffer.empty[Int]
    val (last, rounds) = Rounds("cc.edges", chain, 25) { (cur, round) =>
      held += SparkTestSession.persistedIds.size // the previous round's cut
      pipeline.Pipeline.starRound(cur, round)
    }
    held += SparkTestSession.persistedIds.size
    assert(rounds == 8 && held == Seq.fill(rounds + 1)(1), held)
    Barrier.release(last)
    assert(Barrier.scope(pipeline.Pipeline.ccBigSmallStar(pairs))._1._2 == 8)
  }

  test("a Rounds step that throws leaves no cut and no call site behind") {
    SparkTestSession.releaseAll()
    val sc = spark.sparkContext
    def state = (SparkTestSession.persistedIds, sc.getLocalProperty("callSite.short"))
    val before = state
    intercept[IllegalStateException](Barrier.scope {
      Rounds("spec.rounds", spark.range(10).toDF("v"), 5) { (cur, round) =>
        if (round.name == "spec.rounds.r2") throw new IllegalStateException("round failed")
        round.count(cur, org.apache.spark.sql.functions.lit(true)) // never settles
      }
    })
    assert(state == before)
  }

  test("Rounds: an empty edge set settles at 0 rounds, a loop at its cap reports -1") {
    import spark.implicits._
    SparkTestSession.releaseAll()
    Barrier.scope {
      assert(pipeline.Pipeline.ccBigSmallStar(Seq.empty[(Long, Long)].toDF("id_a", "id_b"))._2 == 0)
      // an init the caller cut and counted stays the caller's
      val init = barrier(10)
      val held = SparkTestSession.persistedIds
      val (_, capped) = Rounds("spec.rounds", init, 3, initRows = Some(10)) { (cur, round) =>
        round.count(cur, org.apache.spark.sql.functions.lit(true)) // never settles
      }
      assert(capped == -1 && held.subsetOf(SparkTestSession.persistedIds))
    }
  }

  test("entries are keyed by session identity, not dir alone") {
    val cache = new MemoCache[String](4)(_ => ())
    val other = spark.newSession()
    assert(cache.getOrElseUpdate(spark, "d")("from-main") == "from-main")
    assert(cache.getOrElseUpdate(other, "d")("from-other") == "from-other")
    assert(cache.size == 2)
  }

  test("Caches.clearAll resets registered caches (the Bench between-reps hook)") {
    val cache = new MemoCache[Int](4)(_ => ())
    cache.getOrElseUpdate(spark, "x")(1)
    assert(cache.size == 1)
    Caches.clearAll()
    assert(cache.size == 0)
  }
}
