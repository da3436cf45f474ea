package graft.perfbench

import org.apache.spark.sql.{DataFrame, Dataset}

import graft.dedup.{DedupConfig, DedupPipeline}
import graft.schema.Page

/** Wraps one public stage call of the pipeline. */
trait StageHook {
  def apply[T](stage: String)(call: => T): T
}

/** `DedupPipeline.run` taken apart into its public stage calls, so a traced
  * run can put each call in a span of its own.
  *
  * It must mirror the composition of `run()`: the same url pre-dedup, stage
  * calls, order and arguments. Only the config check of `run()` is left
  * out, as it writes no stage. The traced benchmark checks that this pass
  * and `run()` give the same clusters, and compares the sum of the stage
  * spans with the wall of an untraced `run()` of the same inputs.
  */
object StagePass {

  val Stages = Seq("signatures", "exact_edges", "candidate_pairs", "verified_edges",
    "components", "clusters")

  def apply(p: DedupPipeline, config: DedupConfig, pages: Dataset[Page],
      stage: StageHook): DataFrame = {
    val input = p.urlPreDedup(pages)
    val sigs = stage("signatures")(p.signatures(input))
    val exact = stage("exact_edges")(p.exactEdges(sigs))
    val pairs = stage("candidate_pairs") {
      val lshPairs = p.candidatePairs(sigs, exact)
      if (config.useSimHashCandidates)
        lshPairs.union(p.simHashCandidates(sigs)).distinct()
      else lshPairs
    }
    val verified = stage("verified_edges")(p.verifiedEdges(sigs, pairs, Some(pages)))
    val comps = stage("components")(p.components(exact, verified))
    stage("clusters")(p.clusters(sigs, comps))
  }
}
