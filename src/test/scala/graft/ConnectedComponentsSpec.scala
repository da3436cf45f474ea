package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{ConnectedComponents, DedupConfig, DedupPipeline}
import graft.io.StageStore

import ConnectedComponentsSpec.Id128

/** Connected components' two solve paths (driver union-find, distributed
  * star rounds) give the same rows; every solve logs its path; the
  * `components` stage manifest times the solve.
  */
class ConnectedComponentsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  // broadcast thresholds that pin each path
  private val Driver = Long.MaxValue
  private val Distributed = -1L // never local, not even the empty graph

  /** Runs `body` with the session's broadcast threshold set to `threshold`. */
  private def withThreshold[T](threshold: Long)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(key)
    spark.conf.set(key, threshold.toString)
    try body finally spark.conf.set(key, prior)
  }

  private case class Solve(path: String, edges: Long, rounds: Int, wallMs: Long)
  private val SolveLine = """connected components: path=(\S+) edges=(\d+) rounds=(\d+) wall_ms=(\d+)""".r

  /** Runs `body` and returns the connected-components solves it logged. */
  private def solvesOf[T](body: => T): (T, Seq[Solve]) = {
    val logger = LogManager.getLogger(ConnectedComponents.getClass.getName.stripSuffix("$"))
      .asInstanceOf[CoreLogger]
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("cc-solves", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val level = logger.getLevel
    logger.addAppender(capture)
    logger.setLevel(Level.INFO)
    try {
      val out = body
      (out, lines.asScala.toSeq.collect {
        case SolveLine(p, e, r, w) => Solve(p, e.toLong, r.toInt, w.toLong)
      })
    } finally {
      logger.removeAppender(capture)
      logger.setLevel(level)
      capture.stop()
    }
  }

  /** The rows of a components frame, ids flattened to their longs, sorted. */
  private def rowsOf(df: DataFrame): Seq[Seq[Long]] = {
    def longs(v: Any): Seq[Long] = v match {
      case r: Row => r.toSeq.map(_.asInstanceOf[Long])
      case l: Long => Seq(l)
    }
    df.collect().map(r => longs(r.get(0)) ++ longs(r.get(1))).toSeq
      .sortBy(_.mkString(","))
  }

  private def solve(edges: DataFrame, threshold: Long): (DataFrame, Solve) = {
    val (df, solves) = solvesOf(withThreshold(threshold)(ConnectedComponents.run(edges)))
    assert(solves.size === 1, s"one solve line per run, got $solves")
    (df, solves.head)
  }

  // Graphs as long-id edge lists; each is also run with the ids scattered
  // over the signed range and as 128-bit structs.
  private val graphs: Seq[(String, Seq[(Long, Long)])] = {
    val rnd = new scala.util.Random(7)
    Seq(
      "chain" -> Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)),
      "star" -> (2L to 30L).map(i => (1L, i)),
      "hub" -> ((1L to 40L).map(i => (50L, i)) ++ (51L to 90L).map(i => (i, 50L)) ++
        Seq((200L, 201L), (201L, 50L))),
      "disjoint pairs" -> (0L until 40L).map(i => (2 * i, 2 * i + 1)),
      "self-loops only" -> Seq((3L, 3L), (9L, 9L)),
      "empty" -> Seq.empty[(Long, Long)],
      "path 300" -> (0L until 299L).map(i => (i, i + 1)),
      "random" -> Seq.fill(400)((rnd.nextInt(500).toLong, rnd.nextInt(500).toLong)))
  }

  // an odd multiplier is a bijection on longs: distinct ids stay distinct
  // and land on both signs, so signed order differs from the raw order
  private def scatter(id: Long): Long = id * 0x9E3779B97F4A7C15L

  private def longEdges(edges: Seq[(Long, Long)], f: Long => Long): DataFrame = {
    import spark.implicits._
    edges.map { case (a, b) => (f(a), f(b)) }.toDF("a", "b")
  }

  /** (h1, h2) with h1 in {-1, 0, 1} — many ties, so the signed h2 decides
    * within each h1 — and h2 scattered over both signs.
    */
  private def key128(id: Long): Id128 = Id128(id % 3 - 1, scatter(id))

  private def structEdges(edges: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    edges.map { case (a, b) => (key128(a), key128(b)) }.toDF("a", "b")
  }

  test("two paths: driver union-find equals the star rounds (long, signed long, struct ids)") {
    def oneField(df: DataFrame) =
      df.select(struct(col("a").as("h")).as("a"), struct(col("b").as("h")).as("b"))
    for ((name, edges) <- graphs;
         (kind, df) <- Seq("long" -> longEdges(edges, identity),
           "signed long" -> longEdges(edges, scatter), "struct" -> structEdges(edges),
           "one-field struct" -> oneField(longEdges(edges, scatter)))) {
      val (viaRounds, r) = solve(df, Distributed)
      val (viaDriver, d) = solve(df, Driver)
      assert(r.path === "distributed" && d.path === "driver", s"$name/$kind")
      assert(d.rounds === 0 && r.rounds >= 1, s"$name/$kind")
      assert(d.edges === r.edges, s"$name/$kind")
      assert(viaDriver.schema === viaRounds.schema, s"$name/$kind")
      assert(rowsOf(viaDriver) === rowsOf(viaRounds), s"$name/$kind")
    }
  }

  test("two paths: component = min id in Spark's order, signed and field-wise") {
    // chains; 4/7 and 13/16 tie on h1, so their signed h2 decides
    val groups = Seq(Seq(1L, 2L, 3L), Seq(10L, 11L), Seq(4L, 7L), Seq(13L, 16L))
    val edges = groups.flatMap(g => g.zip(g.tail))
    def pair(id: Id128) = (id.h1, id.h2)
    val expected = groups.flatMap { g =>
      val m = g.map(id => pair(key128(id))).min // signed, field-wise
      g.map(id => pair(key128(id)) -> m)
    }.toMap
    // scatter(1) < 0 < scatter(2): an unsigned order would pick scatter(2)
    assert(scatter(1L) < 0 && scatter(2L) > 0)
    for (limit <- Seq(Driver, Distributed)) {
      val wide = solve(structEdges(edges), limit)._1.collect()
        .map(r => pair(Id128(r.getStruct(0).getLong(0), r.getStruct(0).getLong(1))) ->
          pair(Id128(r.getStruct(1).getLong(0), r.getStruct(1).getLong(1)))).toMap
      assert(wide === expected, s"limit $limit")
      val signed = solve(longEdges(Seq((1L, 2L)), scatter), limit)._1
      assert(signed.collect().map(_.getLong(1)).toSet === Set(scatter(1L)), s"limit $limit")
    }
  }

  test("budget: 64 bytes per edge and id long of the broadcast threshold; -1 never") {
    val path99 = (0L until 99L).map(i => (i, i + 1)) // 99 edges
    for ((edges, bytes) <- Seq(longEdges(path99, identity) -> 99 * 64L,
        structEdges(path99) -> 99 * 128L)) {
      val (atBound, solves) = solvesOf(withThreshold(bytes)(ConnectedComponents.run(edges)))
      assert(solves.map(s => (s.path, s.edges)) === Seq(("driver", 99L)))
      assert(rowsOf(atBound) === rowsOf(solve(edges, Distributed)._1))
      assert(solve(edges, bytes - 1)._2.path === "distributed")
    }
  }

  test("a struct id with a null field takes the star rounds: null sorts first") {
    val id = StructType(Seq(StructField("h1", LongType), StructField("h2", LongType)))
    val schema = StructType(Seq(StructField("a", id), StructField("b", id)))
    val rows = Seq(Row(Row(1L, 2L), Row(null, 5L)), Row(Row(1L, 2L), Row(3L, 4L)))
    val edges = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val (df, s) = solve(edges, Driver)
    assert(s.path === "distributed")
    assert(df.collect().map(_.getStruct(1)).toSet === Set(Row(null, 5L)))
    // a stage read back from parquet marks every field nullable, so the
    // nulls are found in the data: without any it solves on the driver
    val dir = Files.createTempDirectory("graft-cc-").resolve("edges").toString
    structEdges(Seq((1L, 2L), (2L, 3L))).write.parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.schema("a").dataType.asInstanceOf[StructType].fields.forall(_.nullable))
    assert(solve(back, Driver)._2.path === "driver")
  }

  test("durable: a resume that finds cc_round_* never takes the driver path") {
    val edges = longEdges((0L until 299L).map(i => (i, i + 1)), identity)
    val store = new StageStore(spark, Files.createTempDirectory("graft-cc-").toString)
    val (_, killed) = solvesOf(withThreshold(Distributed)(ConnectedComponents.run(edges,
      maxIterations = 2, durable = Some((store, 2))).count()))
    assert(killed.map(s => (s.path, s.rounds)) === Seq(("distributed", 2)))
    assert(store.has("cc_round_2"))
    // a budget that fits the whole graph is ignored: the rounds resume
    val (resumed, solves) = solvesOf(withThreshold(Driver)(ConnectedComponents.run(edges,
      durable = Some((store, 2)))))
    assert(solves.map(_.path) === Seq("resumed@2"))
    assert(solves.head.rounds >= 1)
    val (fresh, _) = solve(edges, Driver)
    assert(rowsOf(resumed) === rowsOf(fresh))
  }

  test("durable: a driver solve persists no rounds") {
    val edges = longEdges((0L until 299L).map(i => (i, i + 1)), identity)
    val store = new StageStore(spark, Files.createTempDirectory("graft-cc-").toString)
    val (_, solves) = solvesOf(withThreshold(Driver)(ConnectedComponents.run(edges,
      durable = Some((store, 1))).count()))
    assert(solves.map(_.path) === Seq("driver"))
    assert(store.stages("cc_round_").isEmpty)
  }

  test("components manifest wall_ms covers the connected-components solve") {
    // the star rounds (several seconds here) dwarf the stage's parquet
    // write, so a manifest that timed only the write would fall short
    withThreshold(Distributed) {
      val store = new StageStore(spark, Files.createTempDirectory("graft-cc-").toString)
      val pipe = new DedupPipeline(spark, DedupConfig(), store)
      val exact = longEdges((0L until 199L).map(i => (i, i + 1)), identity)
      val verified = longEdges(Seq((500L, 501L)), identity)
      val (_, solves) = solvesOf(pipe.components(exact, verified))
      assert(solves.map(_.path) === Seq("distributed"))
      val manifest = Files.readString(Paths.get(store.root, "components", "_MANIFEST.json"))
      val wallMs = """"wall_ms":(\d+)""".r.findFirstMatchIn(manifest).get.group(1).toLong
      assert(wallMs >= solves.head.wallMs,
        s"components wall_ms $wallMs < ${solves.head.wallMs} ms spent in the solve")
    }
  }
}

object ConnectedComponentsSpec {
  final case class Id128(h1: Long, h2: Long)
}
