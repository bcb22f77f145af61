package graft.cdc

import java.util.UUID

import org.apache.spark.sql.DataFrame

/** SQL-query-based transformer hook.
  *
  * Mirrors the reference's transformer semantics
  * (`/root/reference/src/main/java/org/apache/spark/sql/hudi/commands/BinlogSyncHoodieCommand.scala:104-111`):
  * the incoming batch is registered as a uniquely-named temp view, the user
  * query's `<SRC>` placeholder is substituted with that view name, and the
  * query is executed by Spark SQL. This makes the full Catalyst SQL surface
  * (joins, windows, rollup, set ops, scalar fns, subqueries) part of the
  * engine contract without implementing any of it ourselves.
  */
object Transformer {

  /** Placeholder for the source view in user SQL (reference `:62-63`). */
  val SrcPlaceholder = "<SRC>"

  private val ViewPrefix = "GRAFT_SRC_TMP_TABLE_"

  /** Apply a `<SRC>` SQL transform to a batch DataFrame. */
  def transform(df: DataFrame, sql: String): DataFrame = {
    // The native expression family is part of the transformer's SQL
    // surface (r14): register idempotently so reference configs can call
    // multi_contains_count / plane_signature / pair_cosine / ... without
    // the session having been built with GraftExtensions.
    graft.functions.GraftSqlFunctions.registerAll(df.sparkSession)
    val view = ViewPrefix + UUID.randomUUID().toString.replace("-", "_")
    df.createOrReplaceTempView(view)
    // spark.sql analyzes eagerly, so the returned plan no longer needs the
    // catalog entry; drop it to keep the catalog clean across micro-batches.
    // finally: a failing user SQL (analysis error, retried every
    // micro-batch) must not leak one UUID-named view per attempt.
    try df.sparkSession.sql(sql.replace(SrcPlaceholder, view))
    finally df.sparkSession.catalog.dropTempView(view)
  }
}
