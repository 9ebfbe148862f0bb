package graft

import org.apache.spark.sql.SparkSession

/** Production session factory: one place that encodes how this engine
  * wants Spark configured, local or cluster.
  *
  * Usage: `graft.Session.builder(parallelism = 32).getOrCreate()`, or
  * start from your own builder and call `Session.tune(b)`.
  */
object Session {

  /** Recommended settings, sized by target parallelism (local: number
    * of cores; cluster: ~2-3× total executor cores).
    *
    *  - shuffle.partitions = parallelism, not the 200 default: the
    *    count of streaming state shuffles and AQE-off plans. Under AQE
    *    a batch exchange starts at 16 × parallelism partitions and
    *    coalesces down by bytes (the ceiling's comment below).
    *  - AQE on: runtime join-strategy switching, skew-join splitting,
    *    partition coalescing — the engine's answer to the reference's
    *    hand-salting (SURVEY.md §2.3 P6).
    *  - UTC session timezone (oracle parity and sanity).
    *  - GraftExtensions: native functions, the as-of join strategy and
    *    the AQE rule that sorts a small final ORDER BY in one task
    *    ([[graft.plans.SmallGlobalSort]]; relies on coalescing and the
    *    advisory size below).
    *  - [[LocalFileSystemImpl]]: `file:` paths without a subprocess
    *    per created file or renamed checkpoint file.
    *  - [[CodegenCache]]: a generated class cache that holds the
    *    engine's working set, so a warm query compiles nothing.
    *  - [[ShuffleWriter]]: batch exchanges start at the AQE ceiling
    *    (16 × parallelism partitions) and write one shuffle file per
    *    map task at every core count; exchanges of `parallelism`
    *    partitions keep Spark's per-partition bypass writer.
    */
  def tune(b: SparkSession.Builder, parallelism: Int = 4): SparkSession.Builder =
    (LocalFileSystemImpl ++ CodegenCache ++ ShuffleWriter(parallelism))
      .foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
    .config("spark.sql.shuffle.partitions", parallelism.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // size partitions by bytes, not core count: a KB-scale shuffle
    // collapses to one task instead of `parallelism` near-empty ones
    // (measured 81.6 s → 47.9 s over the 32-query sf0.1 bench), while a
    // TB-scale shuffle still fans out to size/advisory partitions.
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    // AQE can only coalesce DOWN from the initial shuffle partition
    // count (it splits only skewed join partitions), so the ceiling
    // must be HIGH and byte-sizing brings it down: with the ceiling at
    // `parallelism` (32), the sf10 graph_triangles rehearsal put
    // 120 M array-carrying edge rows into 32 sort partitions —
    // GB-scale sort buffers, GCLocker thrash, a dead run. 16× the
    // parallelism keeps every partition advisory-sized at any SF while
    // small shuffles still coalesce to one task (parallelismFirst off).
    // A 1000-executor deployment sets this to O(10⁴-10⁵) the same way.
    .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      (parallelism * 16).toString)
    // 16m advisory suits the single-node bench; a 1000-executor deploy
    // reading 100 TB would raise this to 64-256m (fewer, beefier tasks)
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // rank-filter → WindowGroupLimit rewrite is gated on k ≤ this
    // threshold (default 1000). The occupancy-cap windows rank with
    // k = capProbe ∈ {1024, 1536, 2048} (2× that in the cap-curve
    // instrument) — above the default, so the PROBE side of every
    // capped tier was silently NOT rewritten (plan-audited round 15:
    // WindowGroupLimit on the 192-cap assign side only). Honest cost
    // model: the map-side partial top-k prunes only where ONE cell's
    // per-partition occupancy exceeds capP — a no-op on uniform
    // geometry (measured neutral at sf0.1/sf10 within host noise),
    // decisive exactly on hot-cell floods (boilerplate/duplicate
    // spikes), which is the degenerate case the caps exist for; and
    // the final WindowGroupLimit bounds per-group evaluation instead
    // of materializing the full window then filtering. 8192 covers the
    // largest shipped rung (2·2048); rank filters above that genuinely
    // shouldn't pre-sort map-side.
    .config("spark.sql.optimizer.windowGroupLimitThreshold", "8192")
    .config("spark.sql.session.timeZone", "UTC")
    .withExtensions(new GraftExtensions)

  def builder(parallelism: Int = 4, master: Option[String] = None): SparkSession.Builder = {
    val b = SparkSession.builder().appName("graft")
    tune(master.fold(b)(b.master), parallelism)
  }

  /** Measurement-harness builder shared by Bench, Verify, `tools.Probe`
    * and perfbench: [[tune]]d `local[SPARK_GRAFT_CPUS]` session (the
    * caller's `defaultCpus` when that variable is unset), UI off, plus
    * `SPARK_GRAFT_CONF` ("k=v;k=v") overrides. A Probe measurement
    * builds its session here, so it sees the SAME configuration surface
    * as Bench — an anchor taken under a conf override (e.g.
    * io.compression.codec=zstd at big SF) stays reproducible and
    * comparable to the bench it corroborates. There is no default core
    * count: the committed `plans/` are taken at 4, and a session at
    * another count plans differently.
    */
  def harnessBuilder(defaultCpus: String): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    var b = tune(SparkSession.builder().master(s"local[$cpus]"), cpus.toInt)
      .config("spark.ui.enabled", "false")
    for (kv <- sys.env.getOrElse("SPARK_GRAFT_CONF", "").split(';')
         if kv.contains('=')) {
      val Array(k, v) = kv.split("=", 2)
      b = b.config(k, v)
    }
    b
  }

  /** Inter-measurement scratch hygiene, shared by Bench and
    * `tools.Probe` (one copy — before round 11 Bench and a probe each
    * kept their own, and the copies drifted): drop leftover persisted
    * RDDs (localCheckpoint blocks nothing unpersists), then
    * force a driver GC so the ContextCleaner notices dead
    * ShuffleDependencies and reaps their shuffle files — with a large
    * driver heap that can otherwise be NEVER within one sweep, and the
    * accumulated spill puts later measurements under disk/page-cache
    * pressure that is harness debt, not query cost (seq_pack 11.25 s
    * in-sweep vs 1.18 s after this; sf10 graph_triangles exhausts
    * local disk across reps without it). Call OUTSIDE timed windows.
    */
  def scrubBlocks(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    System.gc()
  }

  /** Serves the `file:` scheme through [[NoForkLocalFileSystem]]
    * (FileSystem API) and [[NoForkLocalFs]] (FileContext API, which
    * Spark's streaming checkpoint file manager uses): the stock
    * checksummed local filesystems minus the `chmod` / `readlink`
    * subprocess per file that Hadoop starts without libhadoop. HDFS
    * and object stores are untouched. `FileSystem`'s cache is keyed
    * by scheme and user, not conf, so this takes effect only if no
    * `file:` FileSystem was created in the JVM before the session.
    */
  val LocalFileSystemImpl: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[NoForkLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NoForkLocalFs].getName)

  /** Sizes Spark's generated class cache (Janino compiles) for the
    * engine's working set. The cache is keyed by (context class loader,
    * source), and whole-stage codegen compiles each source once on the
    * driver and once more in the first task, so each source takes two
    * entries. Spark's default of 100 entries is far below that: warm
    * queries recompiled classes they had compiled before (50 per timed
    * perfbench `dashboard` pass; 17–21 of the 20–24 compiles of each
    * `stream` op). 4096: one pass of all 139 registered queries at
    * sf0.1 (count() and full output) generated 1,608 distinct sources,
    * × 2 loaders = 3,216 (2,920 entries measured), plus ~25 % headroom;
    * that JVM held 197 MB of Metaspace after the pass.
    * `CodeGenerator` reads this static conf once per JVM, so it takes
    * effect only if it is set before the JVM's first codegen.
    */
  val CodegenCache: Seq[(String, String)] = Seq(
    "spark.sql.codegen.cache.maxEntries" -> "4096")

  /** Picks Spark's shuffle writer by partition count relative to
    * `parallelism`. `SortShuffleManager` gives a shuffle of at most
    * `spark.shuffle.sort.bypassMergeThreshold` (default 200) partitions
    * without map-side combine to the bypass-merge writer, which opens,
    * fills, concatenates and deletes one temp file per reduce partition
    * in every map task. Above the threshold, exchanges of `UnsafeRow`s
    * take the serialized sort writer: one file per map task, records
    * sorted by partition id with a stable sort, so the shuffle bytes and
    * each partition's row order are the same. With Spark's default, the
    * AQE ceiling of 16 × parallelism partitions took the bypass writer
    * up to 12 cores (64 partitions on a 4-core host) and the serialized
    * one from 13 cores up; at `parallelism` every core count takes the
    * serialized writer there, and `parallelism`-partition exchanges
    * (streaming state shuffles, AQE-off plans) keep the bypass writer.
    * Measured on a 4-core host, traced perfbench `dashboard` (seed
    * 2301): exchange operator time 54.4 → 16.8 ms and task busy time
    * 0.51 → 0.29 s per op, with the same jobs, stages, tasks and shuffle
    * bytes. A core conf: the SparkContext reads it when it starts, so
    * `spark.conf.set` cannot change it.
    */
  def ShuffleWriter(parallelism: Int): Seq[(String, String)] = Seq(
    "spark.shuffle.sort.bypassMergeThreshold" -> parallelism.toString)

  /** Streaming state at 100× — the RocksDB state store knob.
    *
    * The default HDFSBackedStateStoreProvider keeps EVERY key of every
    * stateful operator (window aggs, dedup state, stream-stream join
    * buffers, KMV/NFA state) in executor heap and snapshots it whole
    * at checkpoints: state growth means OOM, checkpoint cost grows
    * with total state size. RocksDB keeps the working set on executor
    * local disk behind a bounded block cache, and changelog
    * checkpointing ships per-batch deltas instead of full snapshots —
    * state is bounded by disk, checkpoint cost by per-batch churn.
    * With a `file:` checkpoint location the churn bound holds only
    * without Hadoop's per-file `chmod`/`readlink` processes, which
    * cost ~85 ms per partition commit whatever the churn: [[tune]]
    * removes them ([[LocalFileSystemImpl]]). That is the
    * bounded-memory story a 100 TB/day stream needs; the reference
    * gets the same property from Flink's RocksDB backend (SURVEY
    * §2.4). The `transformWithState` paths
    * ([[graft.streaming.StreamingAnalytics.hotItemsTopNStream]])
    * REQUIRE this provider; every other stateful query runs unchanged
    * on either (recovery-tested on both in StreamingRecoverySpec).
    */
  val RocksDbStateStore: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** [[tune]] + [[RocksDbStateStore]]: the recommended production
    * builder for stateful streaming deployments.
    */
  def tuneStreaming(b: SparkSession.Builder, parallelism: Int = 4): SparkSession.Builder =
    RocksDbStateStore.foldLeft(tune(b, parallelism)) {
      case (bb, (k, v)) => bb.config(k, v)
    }
}
