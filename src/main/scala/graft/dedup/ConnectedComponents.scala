package graft.dedup

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StructType}

/** Connected components with component = min id, solved one of two ways:
  *
  *  - **Driver union-find** when the canonical (distinct, self-loop-free)
  *    edge set fits the driver's broadcast budget: `edges × 64 bytes × id
  *    longs ≤ spark.sql.autoBroadcastJoinThreshold` (`-1` never). 64 bytes
  *    per edge and id long covers the solve's peak driver heap (see
  *    [[DriverBytesPerEdge]]). This is the reference's in-memory grouping of
  *    matched pairs (`src/dedupe.rs:592-690` of the Rust crate) with
  *    union-find instead of greedy stars: one collect of primitive arrays,
  *    no star rounds. The threshold is Spark's own bound on data that may
  *    pass through the driver, so no knob is added.
  *  - **Distributed large-star / small-star** otherwise (Kiveris et al.,
  *    "Connected Components in MapReduce and Beyond", SoCC'14; cf. BTS ICDE
  *    2024 in PAPERS.md): a shuffle-bounded fixpoint of O(log n) rounds,
  *    each a groupBy + co-partitioned join — no collect_list, so a hot
  *    component (one node with 10^9 neighbors) never materializes a
  *    neighbor array. A resume from persisted durable rounds always takes
  *    this path.
  *
  * Both paths return the same rows. Every accepted pair stays connected
  * (CC ⊇ greedy-star pairs ⇒ dup-pair recall vs the reference is preserved;
  * see SURVEY.md §2.4 for the precision-side delta). Each call logs one INFO
  * line: the path (`driver`, `distributed`, `resumed@<round>`), the edge
  * count it started from, the star rounds run and its wall time.
  */
object ConnectedComponents {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass.getName.stripSuffix("$"))

  /** Driver heap the union-find path may use per canonical edge and id long.
    * At its peak the solve holds, per edge of long ids, the packed endpoint
    * ids (16 bytes), a sorted copy (16) and the endpoint ranks (8) while
    * ranking, and then the distinct ids (≤ 16), their union-find parents
    * (≤ 8) and the (id, component) chunks handed to the executors (≤ 32):
    * at most 56 bytes, about the same per field for struct ids. Serializing
    * the chunks into tasks later holds them twice (≤ 64).
    */
  private val DriverBytesPerEdge = 64

  /** Largest canonical edge count solved on the driver for ids of
    * `idLongs` longs under the session's `autoBroadcastJoinThreshold`;
    * -1 never.
    */
  private def localEdgeBudget(idLongs: Int): Long = {
    val threshold = SQLConf.get.autoBroadcastJoinThreshold
    if (threshold < 0) -1L
    else math.min(threshold / (DriverBytesPerEdge.toLong * idLongs),
      (Int.MaxValue - 8L) / (2L * idLongs)) // the packed ids are one array
  }

  /** edges: DataFrame(a, b) with both columns either long (narrower numerics
    * are coerced) or the same struct-of-longs (the 128-bit doc id);
    * undirected, a != b (self-loops ok, ignored). Returns
    * DataFrame(id, component) covering every id present in the edge set;
    * component = min id of the component (field-wise min for structs).
    * The session's `autoBroadcastJoinThreshold` picks the path (see
    * [[localEdgeBudget]]).
    *
    * Durability: `localCheckpoint` blocks are executor-local — an executor
    * loss mid-fixpoint kills the job on a real cluster (no lineage left to
    * recompute). With `durable = Some((store, k))`, every k-th star round
    * is ALSO written through the [[graft.io.StageStore]] (reliable storage,
    * stages `<prefix>_round_<i>`), and a restarted run FAST-FORWARDS to the
    * latest persisted round instead of redoing the fixpoint from round 0.
    * Rounds are pure functions of the (deterministic) input edge set, so a
    * resumed fixpoint is bit-identical to an uninterrupted one. At default
    * k=5 a short fixpoint (O(log n) rounds; 3-4 on most corpora) writes
    * nothing extra; only genuinely long fixpoints pay the durable writes.
    * The driver path writes nothing: it is one step, so there is nothing
    * to resume.
    */
  def run(edges: DataFrame, maxIterations: Int = 50,
      durable: Option[(graft.io.StageStore, Int)] = None,
      durablePrefix: String = "cc"): DataFrame = {
    durable.foreach { case (_, k) => require(k >= 1, "durable interval must be >= 1") }
    val t0 = System.nanoTime()

    // Fast-forward: resume from the latest durably-persisted round. Rounds
    // are discovered by NAME SCAN over the store (not bounded by the
    // current maxIterations), so a resume with a smaller cap still finds
    // rounds persisted beyond it.
    val resumed = durable.flatMap { case (store, _) =>
      val prefix = s"${durablePrefix}_round_"
      store.stages(prefix)
        .flatMap(n => n.stripPrefix(prefix).toIntOption.map(i => (i, n)))
        .sortBy(-_._1)
        .headOption
        .map { case (i, stage) =>
          checkFingerprint(edges, durable, durablePrefix)
          (i, store.read(stage))
        }
    }

    // Ids may be longs (narrow numeric inputs coerced to long) or structs
    // (the 128-bit two-long id): every operation below — least/greatest,
    // min, >, equi-join, distinct — is field-wise orderable on structs, so
    // the fixpoint is width-agnostic.
    val canonInput = edges.schema("a").dataType match {
      case _: StructType => edges.select(col("a"), col("b"))
      case _ => edges.select(col("a").cast("long").as("a"), col("b").cast("long").as("b"))
    }
    val (startRound, current) = resumed.getOrElse {
      (0, canonInput
        .filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
        .distinct()
        .localCheckpoint(false))
    }
    // the edge count gates the driver path and the rounds start from it;
    // its job also fills the lazy checkpoint above
    val startSig = signature(current)

    val local =
      if (resumed.isDefined) None
      else idLongs(current).filter(w => startSig._1 <= localEdgeBudget(w))
        .flatMap(w => solveOnDriver(current, w, startSig._1))
    val (out, path, rounds) = local match {
      case Some(df) => (df, "driver", 0)
      case None =>
        if (resumed.isEmpty) checkFingerprint(edges, durable, durablePrefix)
        val (converged, rounds) =
          starRounds(current, startRound, startSig, maxIterations, durable, durablePrefix)
        (componentsOf(converged),
          if (resumed.isEmpty) "distributed" else s"resumed@$startRound", rounds)
    }
    log.info(s"connected components: path=$path edges=${startSig._1} rounds=$rounds " +
      s"wall_ms=${(System.nanoTime() - t0) / 1000000}")
    out
  }

  /** Guard the durable prefix against a different edge set: persisted
    * rounds are pure functions of the input, so fast-forwarding from rounds
    * computed on OTHER data would silently corrupt the result. Fingerprint
    * = (row count, XOR of per-edge hashes) over the RAW input (one narrow
    * agg scan, no shuffle; count disambiguates XOR cancellation of repeated
    * rows). Written before the first round, verified on resume, mismatch
    * refuses.
    */
  private def checkFingerprint(edges: DataFrame,
      durable: Option[(graft.io.StageStore, Int)], durablePrefix: String): Unit =
    durable.foreach { case (store, _) =>
      import java.nio.file.{Files, Paths}
      // same (count, xor-of-edge-hashes) form as the fixpoint check — one
      // helper so the two can never silently diverge
      val (n, h) = signature(edges)
      val fingerprint = s"""{"input_count":$n,"input_xor":$h}"""
      val path = Paths.get(store.root, s"${durablePrefix}_META.json")
      if (Files.exists(path)) {
        val stored = Files.readString(path)
        require(stored == fingerprint,
          s"durable union-find prefix '$durablePrefix' under ${store.root} was " +
            s"written for a different edge set:\n  stored:  $stored\n  " +
            s"current: $fingerprint\nUse a fresh prefix or checkpoint dir.")
      } else {
        Files.createDirectories(path.getParent)
        Files.writeString(path, fingerprint)
      }
    }

  /** Star rounds from `start` (after `startRound` rounds) to the fixpoint;
    * returns the converged edge set and the number of rounds run here.
    */
  private def starRounds(start: DataFrame, startRound: Int, startSig: (Long, Long),
      maxIterations: Int, durable: Option[(graft.io.StageStore, Int)],
      durablePrefix: String): (DataFrame, Int) = {
    var current = start
    var converged = false
    var iter = startRound
    var prevSig = startSig
    while (!converged && iter < maxIterations) {
      val round = iter + 1
      val next = smallStar(largeStar(current))
      val afterSmall = durable match {
        case Some((store, k)) if round % k == 0 =>
          store.getOrCompute(s"${durablePrefix}_round_$round")(next)
        case _ => next.localCheckpoint(false) // filled by the probe's job
      }
      // probe convergence every round: the probe is one job, far cheaper
      // than the extra star round (two shuffles + a checkpoint) that a
      // skipped probe would let run
      val sig = signature(afterSmall)
      converged = sig == prevSig
      prevSig = sig
      current = afterSmall
      iter += 1
    }
    (current, iter - startRound)
  }

  /** converged edge set is a forest of stars rooted at component minima:
    * (a=center, b=member) after canonical orientation center < member.
    */
  private def componentsOf(stars: DataFrame): DataFrame = {
    val members = stars.select(col("b").as("id"), col("a").as("component"))
    val roots = stars.select(col("a").as("id")).distinct()
      .withColumn("component", col("id"))
    members.union(roots)
      .groupBy("id").agg(min("component").as("component"))
  }

  /** Longs per id when the driver path can hold the ids as primitive longs:
    * 1 for long ids, the field count for a struct of longs.
    */
  private def idLongs(edges: DataFrame): Option[Int] = edges.schema("a").dataType match {
    case LongType => Some(1)
    case s: StructType if s.fields.nonEmpty && s.fields.forall(_.dataType == LongType) =>
      Some(s.fields.length)
    case _ => None
  }

  /** One partition's edges, ids packed `w` longs per id (struct fields in
    * order when `struct`), a then b; null if
    * a struct id has a null field. Spark orders a null field before every
    * long, which the driver's ranks do not model, and a stage read back
    * from parquet marks every field nullable, so the schema cannot rule
    * nulls out.
    */
  private def pack(rows: Iterator[InternalRow], struct: Boolean, w: Int): Array[Long] = {
    val buf = new ArrayBuilder.ofLong
    var nullField = false
    while (!nullField && rows.hasNext) {
      val r = rows.next()
      for (c <- 0 to 1)
        if (!struct) buf += r.getLong(c)
        else {
          val s = r.getStruct(c, w)
          for (f <- 0 until w) if (s.isNullAt(f)) nullField = true else buf += s.getLong(f)
        }
    }
    if (nullField) null else buf.result()
  }

  /** Union-find on the driver over the `nEdges` canonical edges. One job
    * packs every partition's ids into a long array, copied into one array
    * of endpoints as the partitions arrive, so no Row per edge reaches the
    * driver. Ids are ranked densely in Spark's order (signed, field-wise for
    * structs); linking every root to the smaller rank leaves each
    * component's min id at its root. Returns None (run the star rounds) on
    * a struct id with a null field.
    */
  private def solveOnDriver(edges: DataFrame, w: Int, nEdges: Long): Option[DataFrame] = {
    val sc = edges.sparkSession.sparkContext
    val struct = edges.schema("a").dataType.isInstanceOf[StructType]
    val n = (2 * nEdges).toInt // endpoints
    var ends = new Array[Long](n * w)
    var filled = 0
    var nullField = false
    sc.runJob(edges.queryExecution.toRdd, (rows: Iterator[InternalRow]) => pack(rows, struct, w),
      (_: Int, part: Array[Long]) =>
        if (part == null) nullField = true
        else {
          System.arraycopy(part, 0, ends, filled, part.length)
          filled += part.length
        })
    if (nullField) return None
    require(filled == ends.length, s"checkpointed edge set changed: $filled of ${ends.length} longs")

    // dense rank of the first field, then fold in each further field by
    // ranking (rank so far, field rank) — a long, as both ranks are < n
    def longs(f: Int => Long): Array[Long] = { // unboxed, unlike Array.tabulate
      val a = new Array[Long](n)
      var i = 0
      while (i < n) { a(i) = f(i); i += 1 }
      a
    }
    var rank = denseRank(if (w == 1) ends else longs(i => ends(i * w)))
    for (f <- 1 until w) {
      val (fr, fv) = denseRank(longs(i => ends(i * w + f)))
      val r = rank._1
      rank = denseRank(longs(i => r(i).toLong * fv + fr(i)))
    }
    val v = rank._2
    var endRank = rank._1
    rank = null
    // the ids in rank order; every endpoint writes its id at its rank
    val ids = new Array[Long](v * w)
    for (i <- 0 until n) System.arraycopy(ends, i * w, ids, endRank(i) * w, w)
    ends = null

    val parent = Array.range(0, v)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) } // path halving
      x
    }
    var e = 0
    while (e < n) {
      val ra = find(endRank(e))
      val rb = find(endRank(e + 1))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      e += 2
    }
    endRank = null

    // rows are built on the executors from primitive chunks of
    // (ids, components), one chunk per slice
    val slices = math.max(1, math.min(sc.defaultParallelism, v))
    val per = math.max(1, (v + slices - 1) / slices)
    val chunks = (0 until v by per).map { lo =>
      val hi = math.min(v, lo + per)
      val comps = new Array[Long]((hi - lo) * w)
      for (r <- lo until hi) System.arraycopy(ids, find(r) * w, comps, (r - lo) * w, w)
      (java.util.Arrays.copyOfRange(ids, lo * w, hi * w), comps)
    }
    val rows = sc.parallelize(chunks, slices).flatMap { case (is, cs) =>
      def key(a: Array[Long], i: Int): Any =
        if (!struct) a(i) else Row.fromSeq(a.slice(i * w, i * w + w).toSeq)
      Iterator.range(0, is.length / w).map(i => Row(key(is, i), key(cs, i)))
    }
    Some(edges.sparkSession.createDataFrame(rows, componentsOf(edges).schema))
  }

  /** Dense 0-based rank of each key among the distinct keys (signed order)
    * and the distinct count.
    */
  private def denseRank(keys: Array[Long]): (Array[Int], Int) = {
    val sorted = keys.clone()
    java.util.Arrays.sort(sorted)
    var d = 0
    for (i <- sorted.indices) if (d == 0 || sorted(i) != sorted(d - 1)) {
      sorted(d) = sorted(i)
      d += 1
    }
    val ranks = new Array[Int](keys.length)
    var i = 0
    while (i < keys.length) { ranks(i) = java.util.Arrays.binarySearch(sorted, 0, d, keys(i)); i += 1 }
    (ranks, d)
  }

  /** large-star: for each node u, connect every strictly-larger neighbor to
    * the minimum of N(u) ∪ {u}. Implemented as groupBy(min) + re-join on the
    * same key (co-partitioned, no second shuffle under AQE).
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
    val mins = sym.groupBy("a").agg(min(col("b")).as("mb"))
      .withColumn("m", least(col("a"), col("mb")))
      .select("a", "m")
    sym.join(mins, "a")
      .filter(col("b") > col("a"))
      .select(col("m").as("a"), col("b")) // m ≤ a < b ⇒ already canonical
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** small-star: orient each edge to (big, small); connect all smaller
    * neighbors (and the node itself) to the minimum.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges.select(
      greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
    val mins = oriented.groupBy("u").agg(min(col("v")).as("m"))
    val relinked = oriented.join(mins, "u")
      .filter(col("v") =!= col("m"))
      .select(col("m").as("a"), col("v").as("b"))
    val selfLinks = mins.select(col("m").as("a"), col("u").as("b"))
    relinked.union(selfLinks)
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** Cheap fixpoint signature: (edge count, XOR of per-edge hashes) — the
    * edge set is distinct, so XOR is a valid order-independent set signature
    * and cannot overflow under ANSI mode. Equal signatures across an
    * iteration ⇒ the canonical edge set is unchanged. Folded per partition
    * in one job: a global `agg` would add a shuffle stage, which adaptive
    * execution runs as a second job.
    */
  private def signature(edges: DataFrame): (Long, Long) =
    edges.select(xxhash64(col("a"), col("b"))).queryExecution.toRdd
      .mapPartitions { rows =>
        var n = 0L
        var h = 0L
        rows.foreach { r => n += 1; h ^= r.getLong(0) }
        Iterator.single((n, h))
      }
      .fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 ^ h2) }
}
