package graft.sources

import java.sql.Types
import java.util.Locale

import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
import org.apache.spark.sql.types._

/** JDBC dialect for ClickHouse — makes the engine's JDBC tier
  * ([[graft.streaming.StagedJdbcBatchSink]])
  * DROP-IN against the reference's actual warehouse instead of merely
  * pattern-equivalent. The reference talks to ClickHouse over its native
  * protocol (`connect.go:46` `clickhouse.ParseDSN`); Spark's JDBC writer
  * needs three warehouse-specific facts this dialect supplies:
  *
  *   - **Read-side type widening** (SURVEY §1.2): ClickHouse's unsigned
  *     integers don't fit their same-width signed Catalyst types —
  *     `UInt32 amount` (`hashes_test.go:146`) widens to `LongType`, and
  *     `UInt64` (the type of every `COUNT(*)` probe result,
  *     `hashes_test.go:198`) to `Decimal(20,0)`, the smallest exact
  *     container. `Nullable(T)` wrappers unwrap first.
  *   - **Write-side DDL types**: `CREATE TABLE` through the JDBC writer
  *     emits ClickHouse names (`Int64`, `Float64`, `String`, …) instead
  *     of the ANSI defaults ClickHouse rejects.
  *   - **Backtick identifier quoting** — ClickHouse's default quote
  *     character, applied everywhere Spark quotes a column.
  *
  * Registration is idempotent; [[graft.streaming.MergeIdiom]] selects
  * the matching stage→target merge SQL by the same URL prefix. There is
  * no live ClickHouse in this environment, so the dialect is pinned by
  * unit specs (type mapping, DDL generation, quoting) while embedded
  * Derby remains the live round-trip stand-in (JdbcBatcherSpec). */
object ClickHouseDialect extends JdbcDialect {

  override def canHandle(url: String): Boolean =
    url.toLowerCase(Locale.ROOT).startsWith("jdbc:clickhouse")

  @volatile private var registered = false
  def register(): Unit = synchronized {
    if (!registered) { JdbcDialects.registerDialect(this); registered = true }
  }

  private def unwrap(typeName: String): String = {
    val t = typeName.trim
    if (t.startsWith("Nullable(") && t.endsWith(")")) {
      t.substring("Nullable(".length, t.length - 1)
    } else t
  }

  override def getCatalystType(sqlType: Int, typeName: String, size: Int,
      md: MetadataBuilder): Option[DataType] = unwrap(typeName) match {
    // unsigned widening: the same-width signed type would overflow
    case "UInt8" => Some(ShortType)
    case "UInt16" => Some(IntegerType)
    case "UInt32" => Some(LongType)
    case "UInt64" => Some(DecimalType(20, 0))
    case "Int128" | "UInt128" | "Int256" | "UInt256" => Some(DecimalType(38, 0))
    case t if t.startsWith("DateTime") => Some(TimestampType)
    case "Date" | "Date32" => Some(DateType)
    case _ => None // signed ints / floats / String: JDBC defaults are exact
  }

  override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
    case StringType => Some(JdbcType("String", Types.VARCHAR))
    // ClickHouse String is a byte string; binary payloads (the msg
    // column) round-trip exactly — the reference stores them the same way
    case BinaryType => Some(JdbcType("String", Types.BINARY))
    case BooleanType => Some(JdbcType("UInt8", Types.BOOLEAN))
    case ByteType => Some(JdbcType("Int8", Types.TINYINT))
    case ShortType => Some(JdbcType("Int16", Types.SMALLINT))
    case IntegerType => Some(JdbcType("Int32", Types.INTEGER))
    case LongType => Some(JdbcType("Int64", Types.BIGINT))
    case FloatType => Some(JdbcType("Float32", Types.FLOAT))
    case DoubleType => Some(JdbcType("Float64", Types.DOUBLE))
    case TimestampType => Some(JdbcType("DateTime64(3)", Types.TIMESTAMP))
    case DateType => Some(JdbcType("Date32", Types.DATE))
    case d: DecimalType => Some(JdbcType(s"Decimal(${d.precision}, ${d.scale})", Types.DECIMAL))
    case _ => None
  }

  override def quoteIdentifier(colName: String): String =
    "`" + colName.replace("`", "``") + "`"

  override def isCascadingTruncateTable(): Option[Boolean] = Some(false)
}
