package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{DedupConfig, DedupPipeline}
import graft.io.StageStore

/** Closed-loop benchmark of the near-dup pipeline, one client: each
  * operation starts when the previous one has returned and been checked.
  *
  * Usage: PerfBench --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --cores C [--spans FILE]
  *
  * Set-up (timed as `setup_s`) generates the workload's inputs from the
  * seed, builds the base store and records reference cluster fingerprints.
  * Then operations run while the next one is expected to end within S
  * seconds (see `loop`):
  *   - batch workloads: `run()` on a fresh store;
  *   - `incremental_recrawl`: a copy of the base store (outside the timed
  *     window), then `materializeStateTables()` and `incremental()` of the
  *     delta, timed together as the first delta a base store takes.
  * The timed window of an operation ends after one action on the clusters
  * table it returned (the fingerprint), so work the table defers to its
  * first read — `incremental()` returns a lazy view — is timed too.
  * Every output is checked against the set-up reference and the planted
  * truth; an operation that throws or fails a check counts as failed.
  *
  * With `--trace 1` each operation is a traced pass of the whole lifecycle
  * on the workload's inputs: `run()`, the same stages called one by one in
  * spans, then adoption and `incremental()` of the delta in spans (see
  * `tracedPass`); the passes give the per-layer numbers.
  *
  * The last stdout line is one JSON object: correct, attempted, failed and
  * metrics.
  */
object PerfBench {

  val DeltaBatch = "delta"

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val seed = opt("seed").toLong
    val spec = Inputs.Workloads.getOrElse(opt("workload"),
      throw new IllegalArgumentException(s"unknown workload ${opt("workload")}; " +
        s"known: ${Inputs.Workloads.keys.toSeq.sorted.mkString(", ")}"))(seed)
    val cores = opt("cores").toInt
    val work = opt("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores * 4)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val b = new PerfBench(spark, spec, work, opt("seconds").toInt)
      val result =
        if (opt("trace") == "1") b.traced(opts.get("spans")) else b.untraced()
      println(result)
    } finally spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Progress line on stderr, so a slow run shows where it spends time. */
  def log(msg: String): Unit = System.err.println(s"perfbench: $msg")
}

final class PerfBench(spark: SparkSession, spec: WorkloadSpec, work: String, runSeconds: Int) {
  import PerfBench._

  private val cfg = DedupConfig()
  private val incremental = spec.name == "incremental_recrawl"
  private var storeSeq = 0
  private var failures = Seq.empty[String]

  /** Cluster fingerprint: XOR of per-row hashes (order-free; XOR cannot
    * overflow under ANSI, unlike a sum) plus the row count.
    */
  private def fingerprint(clusters: DataFrame): (Long, Long) = {
    val r = clusters.agg(
      bit_xor(xxhash64(col("url"), col("cluster_id"), col("is_representative"))),
      count(lit(1))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** (recall, precision) of clustered pairs against planted families, from
    * pair counts Σ C(n,2) per family, per cluster and per (family, cluster)
    * — no pair is enumerated. Checks that every one of the `rows` output
    * rows has a truth row.
    */
  private def pairQuality(clusters: DataFrame, rows: Long, truth: DataFrame): (Double, Double) = {
    val joint = clusters.select("url", "cluster_id").join(truth, "url")
      .groupBy("family_id", "cluster_id").count()
      .collect().map(r => (r.getLong(0), r.get(1), r.getLong(2)))
    def pairs(counts: Iterable[Long]): Long = counts.map(n => n * (n - 1) / 2).sum
    val tp = pairs(joint.map(_._3))
    val truthPairs = pairs(joint.groupMapReduce(_._1)(_._3)(_ + _).values)
    val predPairs = pairs(joint.groupMapReduce(_._2)(_._3)(_ + _).values)
    val covered = joint.map(_._3).sum
    check(covered == rows, s"$covered of $rows output rows have a truth row")
    (if (truthPairs == 0) 1.0 else tp.toDouble / truthPairs,
      if (predPairs == 0) 1.0 else tp.toDouble / predPairs)
  }

  private def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new IllegalStateException(s"output check failed: $what")

  private def freshStore(): StageStore = {
    storeSeq += 1
    new StageStore(spark, s"$work/store$storeSeq")
  }

  private def dirBytes(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p))(
      _.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum)
  }

  private def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p))(
        _.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists))
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    scala.util.Using.resource(Files.walk(src))(_.iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    })
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  private def resetPeakHeap(): Unit = heapPools.foreach(_.resetPeakUsage())

  private def peakHeapMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  // ───────────────────────────── set-up ─────────────────────────────

  final case class Setup(in: Inputs.Materialized, truthBase: DataFrame, truthAll: DataFrame,
      refBase: (Long, Long), refAll: Option[(Long, Long)], baseStore: Option[String])

  private def setupOnce(dir: String): Setup = {
    val t0 = System.nanoTime()
    val in = Inputs.materialize(spark, spec, s"$dir/input")
    log(f"inputs took ${seconds(t0)}%.2f s")
    val truthBase = spark.read.parquet(in.baseTruth)
    val truthAll = truthBase.union(spark.read.parquet(in.deltaTruth))
    val basePages = Inputs.pages(spark, in.basePages)
    val base = new StageStore(spark, s"$dir/base_store")
    val out = new DedupPipeline(spark, cfg, base).run(basePages)
    val refBase = fingerprint(out)
    check(refBase._2 == in.props.toMap.apply("pages").toLong,
      s"reference run has ${refBase._2} rows for ${in.props.toMap.apply("pages")} pages")
    val refAll =
      if (!incremental) None
      else {
        val union = new StageStore(spark, s"$dir/union_store")
        val fp = fingerprint(new DedupPipeline(spark, cfg, union)
          .run(basePages.union(Inputs.pages(spark, in.deltaPages))))
        deleteTree(union.root)
        Some(fp)
      }
    if (!incremental) deleteTree(base.root)
    Setup(in, truthBase, truthAll, refBase, refAll,
      if (incremental) Some(base.root) else None)
  }

  /** Set up once, timed. */
  private def setup(): (Setup, Double) = {
    val t0 = System.nanoTime()
    val s = setupOnce(s"$work/setup")
    log(f"set-up took ${seconds(t0)}%.2f s")
    (s, seconds(t0))
  }

  private def describe(s: Setup): Unit = {
    println(s"perfbench workload=${spec.name} seed=${spec.base.seed} " +
      s"families=${spec.base.nFamilies} hot_family_size=${spec.base.hotFamilySize}")
    s.in.props.foreach { case (k, v) => println(f"perfbench input $k=$v%.4f") }
  }

  /** Run `op` in a closed loop while the next operation, expected to take
    * as long as the slowest one so far, still ends inside the measuring
    * window (at least once); every thrown exception counts as a failed
    * operation. Ending before an operation that would overrun keeps a run's
    * length, and how many operations it takes, steady from run to run.
    */
  private def loop[T](op: => T): (Seq[T], Int) = {
    val t0 = System.nanoTime()
    val done = scala.collection.mutable.ArrayBuffer.empty[T]
    var attempted = 0
    var slowest = 0.0
    while (attempted == 0 || seconds(t0) + slowest <= runSeconds) {
      attempted += 1
      val t1 = System.nanoTime()
      try {
        done += op
        log(f"operation $attempted took ${seconds(t1)}%.2f s")
      } catch {
        case e: Exception =>
          failures :+= s"op $attempted: $e"
          log(s"operation $attempted failed")
          e.printStackTrace()
      }
      slowest = math.max(slowest, seconds(t1))
    }
    (done.toSeq, attempted)
  }

  private def result(attempted: Int, extraOk: Boolean,
      metrics: Seq[(String, Double, String)]): String = {
    val failed = failures.size
    failures.foreach(f => println(s"perfbench failure: $f"))
    println(f"perfbench failed_ops=${failures.size}%d of $attempted%d")
    metrics.foreach { case (k, v, u) => println(s"perfbench metric $k=$v $u") }
    val m = metrics.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k":{"value":$num,"unit":"$u"}"""
    }.mkString("{", ",", "}")
    val correct = failed == 0 && extraOk && attempted > 0
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$m}"""
  }

  // ──────────────────────────── untraced ────────────────────────────

  final case class Op(wall: Double, storeBytes: Long, recall: Double, precision: Double)

  def untraced(): String = {
    val (s, setupS) = setup()
    describe(s)
    val opPages = if (incremental) s.in.props.toMap.apply("delta_pages")
      else s.in.props.toMap.apply("pages")
    val (ops, attempted) = loop {
      val store = freshStore()
      try {
        val p = new DedupPipeline(spark, cfg, store)
        if (incremental) {
          copyTree(s.baseStore.get, store.root)
          val before = dirBytes(store.root)
          val t0 = System.nanoTime()
          p.materializeStateTables()
          val out = p.incremental(DeltaBatch, Inputs.pages(spark, s.in.deltaPages))
          // incremental() returns a lazy view over its layer files: the
          // fingerprint is the action that builds the updated clusters table
          val fp = fingerprint(out)
          val wall = seconds(t0)
          val bytes = dirBytes(store.root) - before
          check(fp == s.refAll.get, "incremental clusters differ from run(A ∪ B)")
          val (r, pr) = pairQuality(out, fp._2, s.truthAll)
          check(r >= 0.99, s"pair recall $r < 0.99")
          Op(wall, bytes, r, pr)
        } else {
          val t0 = System.nanoTime()
          val out = p.run(Inputs.pages(spark, s.in.basePages))
          val fp = fingerprint(out)
          val wall = seconds(t0)
          val bytes = dirBytes(store.root)
          check(fp == s.refBase, "clusters differ from the set-up reference")
          val (r, pr) = pairQuality(out, fp._2, s.truthBase)
          check(r >= 0.99, s"pair recall $r < 0.99")
          Op(wall, bytes, r, pr)
        }
      } finally deleteTree(store.root)
    }
    val wall = median(ops.map(_.wall))
    println(s"perfbench ops=${ops.size} wall_s legs=${ops.map(_.wall).mkString(",")}")
    result(attempted, extraOk = true, Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", wall, "s"),
      ("docs_per_s", opPages / wall, "1/s"),
      ("store_mb", median(ops.map(_.storeBytes / 1048576.0)), "MB"),
      ("pair_recall", median(ops.map(_.recall)), "ratio"),
      ("pair_precision", median(ops.map(_.precision)), "ratio")))
  }

  // ───────────────────────────── traced ─────────────────────────────

  val BatchStages = graft.perfbench.StagePass.Stages
  val AdoptTables = Seq("band", "hash_min", "comp", "cluster")
  val IncStages = Seq("signatures", "hash_min_state", "exact_edges", "band_state",
    "candidate_pairs", "verified_edges", "comp_delta", "comp_state", "cluster_state")

  /** (wall_ms, rows, bytes) recorded in a stage's StageStore manifest. */
  private def manifest(store: StageStore, stage: String): (Long, Long, Long) = {
    val s = Files.readString(Paths.get(store.root, stage, "_MANIFEST.json"))
    def all(key: String) = s""""$key":(-?\\d+)""".r.findAllMatchIn(s).map(_.group(1).toLong).toSeq
    (all("wall_ms").head, all("rows").sum, all("bytes").sum)
  }

  /** One traced pass on two fresh stores:
    *   1. `run()` itself, timed as an untraced operation (through the
    *      fingerprint), on store R: the wall the stage spans are held
    *      against;
    *   2. the public stage calls of `run()` (`StagePass`), each in its own
    *      span, on store S;
    *   3. `materializeStateTables()` and `incremental()` of the delta on
    *      store R, each in a span; the incremental span ends after the
    *      fingerprint has built the view `incremental()` returned.
    * Returns the pass's per-layer numbers once its outputs passed the checks.
    */
  private def tracedPass(s: Setup, t: Trace): Seq[(String, Double, String)] = {
    val runStore = freshStore()
    val stageStore = freshStore()
    try {
      val pages = Inputs.pages(spark, s.in.basePages)
      val delta = Inputs.pages(spark, s.in.deltaPages)
      val p = new DedupPipeline(spark, cfg, runStore)
      resetPeakHeap()
      val t0 = System.nanoTime()
      val runFp = fingerprint(p.run(pages))
      val runWall = seconds(t0)
      val runHeap = peakHeapMb
      check(runFp == s.refBase, "run() clusters differ from the set-up reference")

      val bytes = scala.collection.mutable.Map.empty[String, Long]
      val heap = scala.collection.mutable.Map.empty[String, Double]
      def spanOn[T](store: StageStore, name: String)(body: => T): T = {
        val b0 = dirBytes(store.root)
        resetPeakHeap()
        val r = t.span(name)(body)
        heap(name) = peakHeapMb
        bytes(name) = dirBytes(store.root) - b0
        r
      }
      val q = new DedupPipeline(spark, cfg, stageStore)
      val stagesOut = graft.perfbench.StagePass(q, cfg, pages, new graft.perfbench.StageHook {
        def apply[T](stage: String)(call: => T): T = spanOn(stageStore, stage)(call)
      })
      check(fingerprint(stagesOut) == s.refBase,
        "stage-by-stage clusters differ from the set-up reference")

      spanOn(runStore, "adopt")(p.materializeStateTables())
      val (incOut, fp) = spanOn(runStore, "incremental") {
        val o = p.incremental(DeltaBatch, delta)
        (o, fingerprint(o))
      }
      s.refAll match {
        case Some(ref) => check(fp == ref, "incremental clusters differ from run(A ∪ B)")
        case None =>
          val want = s.in.props.toMap.apply("pages") + s.in.props.toMap.apply("delta_pages")
          check(fp._2 == want.toLong, s"incremental clusters have ${fp._2} rows, want $want")
      }
      val (r, _) = pairQuality(incOut, fp._2, s.truthAll)
      check(r >= 0.99, s"incremental pair recall $r < 0.99")

      layerMetrics(t, q, stageStore, runStore, bytes.toMap) ++ Seq(
        ("run.wall_s", runWall, "s"),
        ("run.attributed_share", BatchStages.map(t.seconds).sum / runWall, "ratio"),
        ("run.peak_heap_mb", runHeap, "MB"),
        ("inc.peak_heap_mb", heap("incremental"), "MB"))
    } finally {
      deleteTree(runStore.root)
      deleteTree(stageStore.root)
    }
  }

  /** Per-layer numbers of a traced pass: the batch stages from the spans on
    * `store` (the stage-by-stage pass of pipeline `p`), adoption and the
    * delta from the spans on `incStore` and its manifests.
    */
  private def layerMetrics(t: Trace, p: DedupPipeline, store: StageStore, incStore: StageStore,
      bytes: Map[String, Long]): Seq[(String, Double, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double, String)]
    def tasks(layer: String, span: String, full: Boolean): Unit = {
      val k = t.tasksOf(span)
      val ms = k.taskMs.map(_.toDouble).toSeq
      out += ((s"$layer.jobs", k.jobs.toDouble, "count"))
      out += ((s"$layer.tasks", ms.size.toDouble, "count"))
      if (full) out += ((s"$layer.task_ms_median", median(ms), "ms"))
      out += ((s"$layer.task_ms_max", if (ms.isEmpty) 0.0 else ms.max, "ms"))
      out += ((s"$layer.shuffle_read_mb", k.shuffleReadBytes / 1048576.0, "MB"))
      out += ((s"$layer.shuffle_write_mb", k.shuffleWriteBytes / 1048576.0, "MB"))
      if (full) {
        out += ((s"$layer.spill_mb", k.spillBytes / 1048576.0, "MB"))
        // GC as a share of task time: a stage that allocates little reads 0
        out += ((s"$layer.gc_share", if (ms.isEmpty) 0.0 else k.gcMs / ms.sum, "ratio"))
      }
    }
    BatchStages.foreach { st =>
      out += ((s"$st.wall_s", t.seconds(st), "s"))
      val rows = store.stages(st).filter(n => n == st || n.startsWith("signatures_chunk"))
        .map(manifest(store, _)._2).sum
      out += ((s"$st.rows_out", rows.toDouble, "rows"))
      out += ((s"$st.bytes_written", bytes(st).toDouble, "bytes"))
      tasks(st, st, full = true)
    }
    out += (("candidate_pairs.hot_buckets", p.hotBuckets.value.toDouble, "count"))
    out += (("candidate_pairs.dropped_rows", p.droppedBucketRows.value.toDouble, "count"))
    val cand = manifest(store, "candidate_pairs")._2
    out += (("verified_edges.pass_ratio",
      if (cand == 0) 1.0 else manifest(store, "verified_edges")._2.toDouble / cand, "ratio"))

    val adopt = t.seconds("adopt")
    out += (("adopt.wall_s", adopt, "s"))
    val adoptMs = AdoptTables.map { tb =>
      val ms = manifest(incStore, s"${tb}_state_base")._1
      out += ((s"adopt.$tb.wall_s", ms / 1000.0, "s"))
      ms
    }
    out += (("adopt.unattributed_s", adopt - adoptMs.sum / 1000.0, "s"))
    out += (("adopt.bytes_written", bytes("adopt").toDouble, "bytes"))
    tasks("adopt", "adopt", full = false)

    val inc = t.seconds("incremental")
    out += (("inc.wall_s", inc, "s"))
    val prefix = s"inc_${PerfBench.DeltaBatch}_"
    val incStages = incStore.stages(prefix).map(_.stripPrefix(prefix))
    // durable CC rounds of the delta's sub-solve are written inside the
    // comp_delta thunk, so they count towards comp_delta
    def group(st: String) = if (st.startsWith("cc_round_")) "comp_delta" else st
    val incMs = incStages.groupBy(group).map { case (g, sts) =>
      g -> sts.map(st => manifest(incStore, prefix + st)._1).sum
    }
    IncStages.foreach(st => out += ((s"inc.$st.wall_s", incMs.getOrElse(st, 0L) / 1000.0, "s")))
    // StageStore manifests time only the write of each stage; eager work
    // inside the stage's thunk (CC fixpoint, localCheckpoint, probes) runs
    // before the write starts and shows up here
    out += (("inc.unattributed_s", inc - incMs.values.sum / 1000.0, "s"))
    out += (("inc.bytes_written", bytes("incremental").toDouble, "bytes"))
    tasks("inc", "incremental", full = false)
    out.toSeq
  }

  /** Traced passes until the measuring window has passed; per-layer
    * numbers are medians over the passes.
    */
  def traced(spansFile: Option[String]): String = {
    val (s, _) = setup()
    describe(s)
    val t = new Trace(spark.sparkContext)
    val spans = scala.collection.mutable.ArrayBuffer.empty[String]
    val (passes, attempted) = loop {
      t.clear()
      t.start()
      try {
        val m = tracedPass(s, t)
        spans += t.json
        m
      } finally t.stop()
    }
    spansFile.foreach(f => Files.writeString(Paths.get(f), spans.mkString("[", ",\n", "]")))
    val layer = passes.headOption.toSeq.flatten.map { case (k, _, u) =>
      (k, median(passes.map(_.find(_._1 == k).get._2)), u)
    }
    result(attempted, extraOk = passes.nonEmpty, layer)
  }
}
