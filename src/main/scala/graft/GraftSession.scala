package graft

import org.apache.spark.sql.SparkSession

/** THE single session-config point: every entry main (Bench, Verify,
  * PlanGate, DegenerateGate, InvariantCheck, all through
  * `SparkEntry.session`), the test session and the perfbench harness
  * build their session here, so the
  * tuned defaults — AQE on (runtime re-plan, partition coalescing,
  * skew-join splitting), UTC for oracle parity, nanos-parquet handling
  * for the events table, graft SQL functions registered — and the
  * scale-aware shuffle parallelism rule below cannot drift apart
  * between tools.
  */
object GraftSession {

  /** Scale-aware initial shuffle parallelism (SURVEY §5 rule).
    *
    * `ceil(inputBytes × expansion / bytesPerPartition)` clamped to
    * `[cores, cap]`:
    *
    *  - `inputBytes` is the on-disk size of the data directory the run
    *    will read (local walk here; a cluster deployment uses the
    *    Hadoop FileSystem's `getContentSummary` — same rule, different
    *    stat call).
    *  - `expansion` ≈ 4 covers parquet's encoding+compression ratio:
    *    32 MB of parquet is ~128 MB of in-memory rows, the classic
    *    per-partition working-set target that keeps sort/agg spills
    *    out of the picture.
    *  - floor at `cores`: below the floor, extra partitions cost
    *    nothing but scheduling and AQE would coalesce them anyway;
    *    fewer than `cores` idles executors.
    *  - `cap` bounds task-launch overhead for one local JVM. On a real
    *    cluster the cap scales with executor count instead (the rule's
    *    only deployment-specific constant).
    *
    * Overshooting is cheap by design: AQE coalesces small shuffle
    * partitions back together at runtime, so the initial count only
    * needs to be HIGH enough that no partition exceeds the working-set
    * target — the exact value is self-correcting downward, never
    * upward. That asymmetry is why the rule rounds up.
    */
  def shufflePartitionsFor(dataDir: String, cores: Int,
      bytesPerPartition: Long = 32L << 20, expansion: Double = 4.0,
      cap: Int = 4096): Int = {
    val bytes =
      try org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(dataDir))
      catch { case _: Exception => 0L }
    val target = math.ceil(bytes * expansion / bytesPerPartition).toInt
    math.min(cap, math.max(cores, target))
  }

  /** Heap-aware AQE advisory partition size (bytes).
    *
    * Spark's default is 64 MB of SHUFFLE bytes — but coalescing is
    * measured on compressed serialized data while a shuffle-hash
    * join's build map holds deserialized rows + hash overhead (~10×),
    * so on a small-heap/many-core JVM the default merges partitions
    * until ONE task's build map exceeds its heap share. That exact
    * wall killed fuzzy_match at sf20 on an 8 GiB / 32-core JVM
    * (artifacts/bench_sf20_r12.json: SparkOutOfMemoryError in the
    * hash-map build; `advisoryPartitionSizeInBytes=8m` → 16.8 s green).
    *
    * Rule: `heap / (cores × 32)` clamped to [2 MB, 64 MB] — each
    * core's share of heap, divided by a 32× headroom factor covering
    * the ~10× deserialization blow-up plus concurrent operator
    * memory. At 8 GiB / 32 cores this yields exactly the proven 8 MB;
    * at ≥64 GiB it clamps to Spark's own 64 MB default, so big-heap
    * runs are unchanged. Advisory only controls AQE's coalescing
    * TARGET, so a smaller value costs at most extra (cheap) tasks —
    * the asymmetry matches the shuffle-partitions rule above: err
    * toward more, smaller partitions. */
  def advisoryBytesFor(heapBytes: Long, cores: Int): Long =
    math.min(64L << 20, math.max(2L << 20, heapBytes / (cores.toLong * 32)))

  /** Build the tuned session. `dataDir` (when given) drives the
    * shuffle-parallelism rule above; without it the core count is the
    * floor and the ceiling both. */
  def build(master: String = "local[*]",
            appName: String = "graft",
            dataDir: Option[String] = None,
            cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val parts = dataDir.map(shufflePartitionsFor(_, cores)).getOrElse(cores)
    // the advisory size (like coalescePartitions.parallelismFirst,
    // left at Spark's default true) is a runtime SQL conf: A/B it with
    // spark.conf.set on the built session, not with a knob here
    val advisory = advisoryBytesFor(Runtime.getRuntime.maxMemory(), cores)
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // Parquet naive timestamps (isAdjustedToUTC=false) must read as
      // TIMESTAMP, not TIMESTAMP_NTZ: the session TZ is pinned to UTC so
      // the values are identical, but NTZ forbids CAST(ts AS BIGINT),
      // which the sessionize/asof/time-weighted family uses for
      // epoch-second arithmetic. The generator's metadata flipped this
      // inference once and silently broke five queries at runtime.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // plan STRINGS are rendered per action for listener events
      // (QueryExecution.explainString); a plan that references a
      // subtree twice per iteration renders as a tree of 2^rounds
      // copies, and the unbounded default OOM'd the r11 sf20 sweep
      // from INSIDE the string builder — 4 MB is far above any honest
      // plan and bounds the pathological ones (execution, PlanGate,
      // and the cache manager walk the tree, never this string)
      .config("spark.sql.maxPlanStringLength", "4194304")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftFunctions.register(spark)
    spark
  }
}
