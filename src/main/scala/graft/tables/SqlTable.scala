package graft.tables

import graft.core._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Connection config for a SQL-speaking source; analog of the
  * reference's ClickHouseTableConfig (clickhouse_table.py:26-48).
  * `jdbcUrl` is the Spark-side connection hook.
  */
final case class SqlTableConfig(
    host: String,
    port: Int = 8443,
    username: Option[String] = None,
    password: Option[String] = None,
    database: String = "default",
    jdbcUrl: Option[String] = None,
    /** identifier quoting of the remote dialect: backtick for
      * ClickHouse/MySQL (the reference's target), `"` for
      * ANSI/Derby/Postgres.
      */
    identifierQuote: String = "`"
) {
  def uri: String = (username, password) match {
    case (Some(u), Some(p)) => s"clickhouse://$u:$p@$host:$port/$database"
    case _                  => s"clickhouse://$host:$port/$database"
  }
}

/** Table that pushes the whole read — filter DNF and column pruning —
  * down into a generated SQL query, executed via Spark's JDBC source
  * (so the remote engine does the scan; Spark parallelism comes from
  * partitioning options if configured). Mirrors ClickHouseTable
  * (datarepo/core/tables/clickhouse_table.py:51-274); the query
  * builder is deliberately side-effect-free so it is unit-testable
  * without a server.
  */
class SqlTable(
    val name: String,
    val schema: StructType,
    val config: SqlTableConfig,
    description: String = "",
    docsFilters: Seq[Filter] = Seq.empty,
    val statsCols: Seq[String] = Seq.empty
) extends TableProtocol {

  override val tableMetadata: TableMetadata =
    TableMetadata("CLICKHOUSE", description, docsFilters)

  /** Compile filters+columns to SQL (clickhouse_table.py:_build_query):
    * invalid columns are dropped from selection; filters become an
    * OR-of-AND WHERE clause.
    */
  private def q(ident: String): String =
    s"${config.identifierQuote}$ident${config.identifierQuote}"

  def buildQuery(
      filters: Filters.Normalized = Seq.empty,
      columns: Option[Seq[String]] = None
  ): String = {
    val valid = columns.map(_.filter(schema.fieldNames.contains))
    val columnExpr = valid match {
      case Some(cs) if cs.nonEmpty => cs.map(q).mkString(", ")
      case _                       => "*"
    }
    val whereClause =
      if (filters.isEmpty) ""
      else {
        val dnf = filters
          .map { conj =>
            conj.map(filterSql).mkString("(", " AND ", ")")
          }
          .mkString(" OR ")
        s"WHERE $dnf"
      }
    s"SELECT $columnExpr FROM ${q(config.database)}.${q(name)} $whereClause".trim
  }

  private def filterSql(f: Filter): String = f.op match {
    case FilterOp.Eq  => s"${q(f.column)} = ${fmt(f.value)}"
    case FilterOp.Neq => s"${q(f.column)} != ${fmt(f.value)}"
    case FilterOp.Gt  => s"${q(f.column)} > ${fmt(f.value)}"
    case FilterOp.Lt  => s"${q(f.column)} < ${fmt(f.value)}"
    case FilterOp.Ge  => s"${q(f.column)} >= ${fmt(f.value)}"
    case FilterOp.Le  => s"${q(f.column)} <= ${fmt(f.value)}"
    case FilterOp.In =>
      s"${q(f.column)} IN (${IcebergStats.inValues(f.value).map(fmt).mkString(", ")})"
    case FilterOp.NotIn =>
      s"${q(f.column)} NOT IN (${IcebergStats.inValues(f.value).map(fmt).mkString(", ")})"
    case FilterOp.Contains | FilterOp.Includes | FilterOp.IncludesAny | FilterOp.IncludesAll =>
      s"${q(f.column)} LIKE ${fmt(f.value)}"
  }

  /** SQL value formatting (util.py:format_value_for_sql). */
  private def fmt(value: Any): String = value match {
    case null                => "NULL"
    case s: String           => s"'${Filters.escapeSql(s)}'"
    case b: Boolean          => if (b) "1" else "0"
    case n @ (_: Int | _: Long | _: Double | _: Float | _: Short | _: Byte) => n.toString
    case xs: Iterable[_]     => xs.map(fmt).mkString(", ")
    case other               => s"'${Filters.escapeSql(other.toString)}'"
  }

  override def apply(spark: SparkSession, args: ReadArgs): DataFrame = {
    val query = buildQuery(args.filters, args.columns)
    val url = config.jdbcUrl.getOrElse(
      throw new IllegalStateException(
        s"SqlTable '$name' has no jdbcUrl configured; buildQuery() => $query"))
    spark.read
      .format("jdbc")
      .option("url", url)
      .option("query", query)
      .load()
  }

  override def getSchema(spark: SparkSession): TableSchema =
    TableSchema(Seq.empty, TableSchema.columnsOf(schema, statsCols.toSet))
}
