package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Every query exposed through SparkEntry, one family object per file. */
object Registry {
  val all: Seq[Query] =
    IngestQueries.queries ++ AggregateQueries.queries ++
      EventQueries.queries ++ DedupQueries.queries ++ TextQueries.queries ++
      StreamReplayQueries.queries ++ SimilarityQueries.queries ++
      SamplingQueries.queries ++ MultimodalQueries.queries

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  lazy val oracle: Map[String, String] =
    all.map(q => q.name -> q.oracle).toMap
}
