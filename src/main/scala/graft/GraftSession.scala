package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the settings every graft job wants.
  *
  * Local testing runs `local[32]`; the settings below are chosen so the
  * same code is correct on a 1000-executor cluster:
  *   - AQE on: runtime coalescing of shuffle partitions + skew-join
  *     splitting replaces hand-tuned partition counts at scale.
  *   - shuffle.partitions defaults to 32 locally; on a cluster this is
  *     overridden to 2-3x total cores (AQE coalesces the excess).
  *   - UTC session timezone for oracle parity and cross-cluster
  *     determinism.
  */
object GraftSession {

  /** Every SPARK_GRAFT_* variable graft reads, each with its value
    * check: run selection and deployment paths, plus the three decade
    * levers the SCALING_r17/r18 runs needed to finish at 2048× (AQE
    * initial factor and advisory size, checkpoint storage level).
    * Concluded A/B knobs are constants at their measured values below.
    */
  private val EnvChecks: Map[String, String => Boolean] = {
    val text: String => Boolean = _ => true
    val positive: String => Boolean = _.toLongOption.exists(_ >= 1)
    Map(
      "SPARK_GRAFT_SF_DIR" -> text,
      "SPARK_GRAFT_CPUS" -> positive,
      "SPARK_GRAFT_ONLY" -> text,
      "SPARK_GRAFT_BENCH_PASSES" -> positive,
      "SPARK_GRAFT_BENCH_ONLY" -> text,
      "SPARK_GRAFT_BENCH_OUT" -> text,
      "SPARK_GRAFT_OBSERVE" -> Set("0", "1"),
      "SPARK_GRAFT_SCALE_REPLICAS" -> positive,
      "SPARK_GRAFT_SCALE_TABLES" -> text,
      "SPARK_GRAFT_AQE_INITIAL_FACTOR" -> positive,
      "SPARK_GRAFT_AQE_ADVISORY_MB" -> positive,
      "SPARK_GRAFT_CKPT_LEVEL" -> Set("MEMORY_AND_DISK", "MEMORY_AND_DISK_SER", "DISK_ONLY")
    )
  }

  /** The trimmed value of a listed SPARK_GRAFT_* variable in `vars`.
    * Throws IllegalArgumentException naming the variable when the name
    * is not listed or the value fails its check — never a parse error
    * three frames later, never a silent fallback to the default.
    */
  def env(name: String, vars: Map[String, String] = sys.env): Option[String] = {
    val check = EnvChecks.getOrElse(
      name,
      throw new IllegalArgumentException(
        s"$name is not a graft setting; graft reads only ${EnvChecks.keys.toSeq.sorted.mkString(", ")}")
    )
    vars.get(name).map(_.trim).map { v =>
      if (!check(v)) throw new IllegalArgumentException(s"$name has a malformed value '$v'")
      v
    }
  }

  /** [[env]] with a default for the text variables (paths, lists). */
  def envOr(name: String, default: String, vars: Map[String, String] = sys.env): String =
    env(name, vars).getOrElse(default)

  /** [[env]] for the numeric variables (a unit suffix, where there is
    * one, is appended by the caller).
    */
  def envLong(name: String, default: Long, vars: Map[String, String] = sys.env): Long =
    env(name, vars).fold(default)(_.toLong)

  /** Check every SPARK_GRAFT_* variable in `vars` through [[env]]: a
    * script that still exports a retired knob fails loudly here
    * instead of being silently ignored. Every session build runs it.
    */
  def checkEnv(vars: Map[String, String] = sys.env): Unit =
    vars.keys.filter(_.startsWith("SPARK_GRAFT_")).foreach(env(_, vars))

  /** [[builder]] at `local[SPARK_GRAFT_CPUS]` (default 32) — the
    * session the Bench, Verify, PlanDump and ScaleUp mains run.
    */
  def localBuilder(): SparkSession.Builder = {
    val cpus = envLong("SPARK_GRAFT_CPUS", 32L).toInt
    builder(s"local[$cpus]", cpus)
  }

  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder = {
    checkEnv()
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      // native graft expressions (graft_dot) for SQL + DataFrame API
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Partition count must TRACK data size, not the static default:
      // plan every shuffle at 8x the baseline and let AQE coalesce
      // back down by measured bytes. At the small-SF floor the result
      // is identical tasking (AQE merges to ~the old 32); at the 256x
      // decade the wide self-join sorts run 8-way finer instead of
      // going allocation-bound at 32 (measured 43.8 s -> ~10 s on
      // q34). On a real cluster the same knob scales with executor
      // count. SPARK_GRAFT_AQE_INITIAL_FACTOR is a decade lever (the
      // SCALING_r17/r18 2048× runs raised it); the default is the
      // product setting.
      .config(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (shufflePartitions * envLong("SPARK_GRAFT_AQE_INITIAL_FACTOR", 8L)).toString
      )
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      // parallelismFirst targets totalBytes/parallelism per partition
      // but never goes below minPartitionSize — so a CPU-DENSE stage
      // whose bytes are small (a GK-sketch merge, a 150k-key distinct
      // rewrite, a fact-window over ~14 MB of shuffled longs) was
      // coalesced to bytes/1MB tasks and ran 3-of-32-cores wide at
      // Spark's 1m default (r19 probes: q45/q57/q83/q97's heaviest
      // stages). Bytes are the wrong proxy for work in those stages
      // at ANY estate size; the floor exists only to stop block-count
      // explosions, and 64 KB keeps that guard while letting few-MB
      // CPU-dense stages reach the session parallelism. Measured both
      // ways at sf0.1 (r19, same-era full-bench A-B-A: 146.6 s at 64k
      // vs 153.4 at 1m, wins spread over the window/sketch/distinct
      // families; a 20-query probe set agreed) — see
      // OPTIMIZATION_r19.md Finding 6. Lower floors lose: 16k/8k
      // measured +10.8 to +14.8 s suite-wide in an r20 same-era
      // bracket (tools/r20/aba_mps_*.json). Decade-scale stages are
      // GBs and never near any of these floors.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        s"${envLong("SPARK_GRAFT_AQE_ADVISORY_MB", 64L)}m"
      )
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Runtime SMJ -> shuffled-hash conversion: when AQE measures
      // every post-shuffle partition of a sort-merge join under this
      // threshold, the reduce stage runs as a hash join with NO
      // sorts. For the payload-carrying self-joins (q34's exploded
      // N·L×550 B frame) the sorts are the scale killer — 2 × ~77 GB
      // through UnsafeExternalSorter at the 2048× decade, the r16
      // ENOSPC — while the hash build is one post-shuffle partition.
      // THE BOUND IS EXECUTION-MEMORY SAFETY, not plan preference:
      // SHJ builds cannot spill, and at local[32]/8g each
      // concurrently-building task owns only ~150 MB of the tracked
      // pool — a first-cut 128m threshold let a ~47 MB-compressed
      // (~200 MB raw) build convert at the 256× decade and every
      // build task died with "not enough memory to build hash map".
      // 16 MB compressed (≲65 MB raw + map overhead per task) fits
      // the 32-way pool with headroom.
      // THE CONVERSION'S SECOND GATE (r18, ADVICE): Spark's
      // DynamicJoinSelection.preferShuffledHashJoin ALSO requires
      // advisoryPartitionSizeInBytes <= this threshold before it even
      // looks at measured partition sizes (verified in the 4.1.2
      // bytecode) — r17 shipped a 64 MB advisory against the 16 MB
      // threshold, so the conversion was a silent no-op and the q34
      // decade actually survived on finer AQE initial partitions
      // keeping the SMJ sorts in memory. The conversion is an OPT-IN
      // DECADE LEVER, not the default: an r18 same-era A/B at sf0.1
      // measured the engaged conversion DOUBLING the iterative
      // kmeans/cell family (cell build 16.5 s with it off vs 33 s on,
      // q107 1.5 vs 2.9 s — per-task hash-build overhead on hundreds
      // of KB-sized partitions across iterative stages), while at
      // decade geometry it removes the external sorts that ENOSPC'd
      // r16. Decade runs export SPARK_GRAFT_AQE_ADVISORY_MB=16 (= the
      // threshold) to engage it; PlanSpec pins the converted no-sort
      // shape under exactly that pairing. A cluster — where partitions
      // are never tiny — sets the pairing on and raises this threshold
      // to its per-core memory.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "16m")
      // ObjectHashAggregate falls back to SORT-BASED aggregation after
      // this many distinct keys per task — and the default (128) makes
      // EVERY per-doc/per-vector typed aggregate (graft_simhash,
      // graft_min2, graft_topk) externally sort its whole input: the
      // corpus's heaviest frames re-sorted for aggregates whose
      // map-side state is tiny and fixed. 32k keys bounds the
      // UNTRACKED object map at ~16 MB/task for ≤0.5 KB state (32
      // tasks ≈ 0.5 GB live — measured: 128k entries of 512 B minhash
      // buffers OOM'd the 8 GB heap during the map→sorter dump, so
      // the bound must leave dump headroom); past the threshold the
      // sort fallback is survivable, just slow. The hot signature
      // aggregate (graft_minhash) is a TypedImperativeAggregate
      // (functions/SketchAggregates.scala MinHashAgg) and runs EXACTLY
      // this ObjectHashAggregate path — that is why keyClustered bounds
      // keys/task upstream of it (the r17 declarative rewrite was
      // measured slower and reverted in da1dc31; this comment is the
      // recorded negative result). The safe value is heap-dependent:
      // 32k is sized for the 8 GB heap the measurements ran on.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "32768")
      // Scan-split size: the 128 MB default assumes scan-bound work,
      // but graft's hot pipelines are compute-AMPLIFYING — a shingle
      // explode turns each input row into ~150, so a 470 MB documents
      // scan (100× decade) became 4 tasks each partial-aggregating
      // ~20M exploded rows (1 GB+ hash maps → 17 GB spill, 28 of 32
      // cores idle through q32's heaviest stage). 16 MB splits give
      // the explosion ~30+ upstream tasks at that size and scale with
      // the corpus; every sf0.1 table is a single ≤16 MB file, so the
      // driver-gate plans and timings are untouched. Map-side combine
      // output is unchanged — only the pre-shuffle parallelism moves.
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      // Generated-class cache (STATIC conf, sized at first-session
      // creation): Spark keeps at most `maxEntries` compiled codegen
      // classes (default 100) and the 142-operator suite generates
      // far more distinct codegen units per sweep — the default cache
      // provably thrashes, so EVERY re-execution of a plan (Bench
      // pass 2, AQE re-optimized stages, a service's repeated
      // queries) pays full Janino recompilation instead of a cache
      // hit. Measured r20 (same-era A-B-B-A full bench, per-pass
      // CodeGenerator.compileTime telemetry, artifacts
      // tools/r20/aba_cg_*.json): at 100 entries pass 2 re-pays the
      // whole Janino bill (33.8/34.7 s and 35.5/29.0 s of compile
      // across passes 1/2); at 4096 pass-2 compile collapses to 0.8 s
      // and the sweep totals drop 140.9/129.8 -> 95.1/96.0 s (-30%,
      // 111 of 142 queries improve, zero regress beyond noise).
      // Scale posture: the cache is per-JVM, so it exists in the
      // driver AND in each executor, each paying ~30-50 KB of bytecode
      // per entry (=> ~100-200 MB metaspace at 4096) — the trade a
      // long-lived cluster wants; it does not change any plan shape.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // Local mode has no executor exit to reap finished stages'
      // shuffle files — ContextCleaner only removes them after a full
      // GC collects the dropped ShuffleDependency, and the default
      // 30min periodic GC is an eternity at decade scale: a probe
      // running several corpus-sized jobs in sequence accumulated
      // 71 GB of dead shuffle files and ENOSPC'd the sandbox (r17,
      // recall_2048x). A 60 s periodic full GC costs ~nothing at 8 GB
      // and keeps disk high-water at one live job's footprint.
      .config("spark.cleaner.periodicGC.interval", "60s")
      // accept SUBSET co-partitioning for joins: a table bucketed by
      // its block key (CellIndex's `cluster`) must serve joins whose
      // keys are a superset (cluster + a promoted equality like
      // q82's label) without re-shuffling both sides — the stored
      // bucketing IS the partitioning we paid for at ingest. The
      // default (true) insists every join key be a partition key,
      // which re-shuffles the bucketed table for no correctness gain;
      // the trade (coarser parallelism = bucket count) is exactly the
      // bucketing design decision.
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // events.parquet carries TIMESTAMP(NANOS), which Spark has no
      // native type for; read as nanos-since-epoch long (exact).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
  }

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
