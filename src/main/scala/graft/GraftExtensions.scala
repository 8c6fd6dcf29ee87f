package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.{AdcDist, BloomOps, BpeTokenCount, CosineSimilarity, GramMaxCount, Grams, NearestCells, RollingFingerprint, Tokens}
import graft.plans.{AsOfStrategy, FinalSortPlacement, IntervalJoinRewrite, PushFilterThroughAsOf, RestoreV1ScanStatistics, RowLevelSqlStrategy}

/** THE session-extension entry point: everything the engine injects into
  * Catalyst registers here (native functions, planner strategies, optimizer
  * rules). Installed via spark.sql.extensions — GraftSession sets it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((CosineSimilarity.identifier, CosineSimilarity.info,
      CosineSimilarity.builder))
    ext.injectFunction((RollingFingerprint.identifier, RollingFingerprint.info,
      RollingFingerprint.builder))
    ext.injectFunction((BpeTokenCount.identifier, BpeTokenCount.info,
      BpeTokenCount.builder))
    // fused JVM replacements for interpreted higher-order-function
    // pipelines on the IVF-probe and repetition-score paths
    ext.injectFunction((NearestCells.identifier, NearestCells.info,
      NearestCells.builder))
    ext.injectFunction((GramMaxCount.identifier, GramMaxCount.info,
      GramMaxCount.builder))
    ext.injectFunction((Grams.identifier, Grams.info, Grams.builder))
    ext.injectFunction((Tokens.identifier, Tokens.info, Tokens.builder))
    ext.injectFunction((AdcDist.identifier, AdcDist.info, AdcDist.builder))
    ext.injectFunction((BloomOps.aggIdentifier, BloomOps.aggInfo,
      BloomOps.aggBuilder))
    ext.injectFunction((BloomOps.mightIdentifier, BloomOps.mightInfo,
      BloomOps.mightBuilder))
    ext.injectPlannerStrategy(_ => AsOfStrategy)
    // SQL UPDATE / MERGE INTO on commit-log catalog tables: runs
    // before Spark's BasicOperators, which otherwise rejects both
    ext.injectPlannerStrategy(_ => RowLevelSqlStrategy)
    ext.injectOptimizerRule(_ => PushFilterThroughAsOf)
    // NOTE: RestoreV1ScanStatistics is NOT injectable here — every
    // extensions hook (optimizer rule, pre-CBO) runs BEFORE the V2
    // push-down batch that creates the V1ScanWrapper it rewrites; it
    // installs as experimental.extraOptimizations ("User Provided
    // Optimizers", the LAST batch) via GraftSession.install
    // opt-in via spark.graft.intervalJoin.enabled (see the rule's scaladoc)
    ext.injectOptimizerRule(_ => IntervalJoinRewrite)
    // the output sort, from static size estimates and from AQE's sizes of
    // finished stages
    ext.injectOptimizerRule(_ => FinalSortPlacement)
    ext.injectRuntimeOptimizerRule(_ => FinalSortPlacement)
  }
}
