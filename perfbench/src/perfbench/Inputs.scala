package perfbench

import java.sql.Timestamp

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.schema.{Page, TruthRow}
import graft.synth.DeterministicCorpus
import graft.synth.DeterministicCorpus.CorpusSpec

/** Seeded inputs of one workload, materialized as parquet so the measured
  * program only reads pages.
  *
  * `base` is the corpus a batch run dedups (A). `delta` is a crawl delta
  * (B) of exactly `deltaPages` pages: half pages of fresh families (a
  * family range disjoint from A's) and half re-crawls of A's pages under a
  * new url and `warc_ts`, each half picked by a seeded url hash. A fixed
  * delta size keeps per-delta figures comparable across seeds. Half of the re-crawls keep the text verbatim, so they
  * reach their family through the exact-hash path; the other half append
  * one token, so they need LSH and shingle verification against A.
  * Truth rows map every page's url to its planted family; a re-crawl's
  * row carries the re-crawl's url and the family of the page it re-crawls.
  */
final case class WorkloadSpec(name: String, base: CorpusSpec, deltaPages: Int)

object Inputs {

  val Workloads: Map[String, Long => WorkloadSpec] = Map(
    // a plain web corpus: no hot family, CC is shallow at ~1.6 pages per
    // family (runnable by hand; the benchmark's run budget leaves it out)
    "batch_web" -> (seed => WorkloadSpec("batch_web",
      CorpusSpec(nFamilies = 3000, seed = seed), 240)),
    // one hot boilerplate family: its LSH buckets fall back to chain
    // emission and the resulting long chain drives many CC rounds
    "hot_chain" -> (seed => WorkloadSpec("hot_chain",
      CorpusSpec(nFamilies = 1000, hotFamilySize = 2000, seed = seed), 180)),
    // a plain web corpus as the base store, then state-table adoption and
    // a delta apply on top of it
    "incremental_recrawl" -> (seed => WorkloadSpec("incremental_recrawl",
      CorpusSpec(nFamilies = 1500, seed = seed), 120)))

  final case class Materialized(
      basePages: String, baseTruth: String,
      deltaPages: String, deltaTruth: String,
      props: Seq[(String, Double)])

  /** Generate and write the workload's inputs under `dir`. The corpus is
    * a few thousand pages, so it is collected once and the delta, the truth
    * checks and the properties are derived on the driver: set-up costs the
    * two generating jobs and the four writes.
    */
  def materialize(spark: SparkSession, w: WorkloadSpec, dir: String): Materialized = {
    import spark.implicits._
    val seed = w.base.seed
    def byHash(rows: Array[(Page, TruthRow)], salt: Long) =
      rows.sortBy(r => (MurmurHash3.stringHash(r._1.url, (seed ^ salt).toInt), r._1.url))
    val base = DeterministicCorpus.generate(spark, w.base).collect()
    val nFresh = w.deltaPages / 2
    val fresh = byHash(DeterministicCorpus.generate(spark, w.base.copy(
      nFamilies = nFresh, hotFamilySize = 0,
      familyOffset = w.base.familyOffset + 10 * (w.base.nFamilies + 1000))).collect(), 1)
      .take(nFresh)
    val recrawls = byHash(base, 2).take(w.deltaPages - nFresh).map { case (p, t) =>
      val verbatim = Math.floorMod(MurmurHash3.stringHash(p.url, (seed ^ 3).toInt), 2) == 0
      val r = recrawlOf(p, verbatim)
      (r, t.copy(url = r.url), verbatim)
    }
    val delta = fresh ++ recrawls.map { case (p, t, _) => (p, t) }
    checkTruth("base", base)
    checkTruth("delta", delta)
    val clash = base.map(_._1.url).toSet.intersect(delta.map(_._1.url).toSet)
    if (clash.nonEmpty)
      throw new IllegalStateException(s"${clash.size} delta urls are base urls, e.g. ${clash.head}")

    val out = Materialized(s"$dir/base_pages", s"$dir/base_truth",
      s"$dir/delta_pages", s"$dir/delta_truth", Nil)
    spark.createDataset(base.map(_._1).toSeq).write.parquet(out.basePages)
    spark.createDataset(base.map(_._2).toSeq).write.parquet(out.baseTruth)
    spark.createDataset(delta.map(_._1).toSeq).write.parquet(out.deltaPages)
    spark.createDataset(delta.map(_._2).toSeq).write.parquet(out.deltaTruth)

    val pages = base.length
    val families = base.map(_._2.family_id).distinct.length
    def share(n: Int) = if (delta.isEmpty) 0.0 else n.toDouble / delta.length
    out.copy(props = Seq(
      "pages" -> pages.toDouble,
      // pages beyond one per planted family: the copies dedup must find
      "planted_dup_share" -> (pages - families).toDouble / pages,
      "hot_family_pages" -> base.count(_._2.family_id == -1L).toDouble,
      "delta_pages" -> delta.length.toDouble,
      "delta_recrawl_verbatim_share" -> share(recrawls.count(_._3)),
      "delta_recrawl_edited_share" -> share(recrawls.count(!_._3))))
  }

  val RecrawlSuffix = "?recrawl=1"

  /** Fails set-up unless every page of `rows` has a distinct url and its
    * truth row names that url.
    */
  private def checkTruth(what: String, rows: Array[(Page, TruthRow)]): Unit = {
    val wrong = rows.count { case (p, t) => p.url != t.url }
    val dups = rows.length - rows.map(_._1.url).distinct.length
    if (wrong != 0 || dups != 0)
      throw new IllegalStateException(s"$what inputs: $wrong truth rows name another page's " +
        s"url, $dups urls repeat")
  }

  /** A re-crawl of `p`: new url and capture time, text verbatim or with one
    * appended token (the html body gets the same token).
    */
  private def recrawlOf(p: Page, verbatim: Boolean): Page = {
    val ts = new Timestamp(p.warc_ts.getTime + 30L * 24 * 3600 * 1000)
    if (verbatim) p.copy(url = p.url + RecrawlSuffix, warc_ts = ts)
    else {
      val token = "recrawl" + Math.floorMod(p.url.hashCode, 997)
      val html = new String(p.html, java.nio.charset.StandardCharsets.UTF_8)
        .replace("</p>", s" $token</p>")
      p.copy(url = p.url + RecrawlSuffix, warc_ts = ts, text = s"${p.text} $token",
        html = html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  def pages(spark: SparkSession, dir: String): Dataset[Page] = {
    import spark.implicits._
    spark.read.parquet(dir).as[Page]
  }
}
