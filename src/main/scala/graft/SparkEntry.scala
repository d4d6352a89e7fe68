package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators._
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry extends GateFamily {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Every gate: one per implemented operator from SURVEY.md §2. */
  def gates: Seq[Gate] = Seq(RelationalQueries, CodecQueries, CdcQueries,
    TextQueries, DedupQueries, SimilarityQueries, MultimodalQueries,
    SourceQueries, LoadQueries, JdbcGateQueries, TemporalQueries,
    SamplingQueries, SkewJoin, SnapshotDiff, BloomJoin, ZOrderLayout,
    IncrementalAgg, SubqueryQueries, PipelineQueries, RetrievalQueries,
    PrefixSum, TokenizerQueries, ShardQueries, GraphQueries).flatMap(_.gates)
}
