package graft.core

import org.apache.spark.sql.types._

/** Relational-source schema catalog and type fidelity rules.
  *
  * The reference introspects schemas live from the source and invalidates
  * on DDL (/root/reference pkg/schema_store/schema_store.go:142-148, column
  * type enum 44-58); binlog row images lose signedness so values are
  * re-signed from column metadata (pkg/inputs/mysqlstream/msg.go:230-273),
  * and generated columns are excluded from writes
  * (pkg/sql_execution_engine/utils.go:91-93).
  *
  * Spark rendering: a catalog of StructTypes derived from source metadata,
  * a MySQL→Spark type mapping, and pure decode fix-up functions with golden
  * tests (SURVEY §1.2/§1.3 — "where silent corruption hides").
  */
object MySqlTypes {

  /** Source column descriptor (the subset of metadata that affects
    * decode/write behavior).
    */
  final case class SourceColumn(
      name: String,
      sqlType: String, // raw type, e.g. "bigint unsigned", "decimal(11,3)"
      nullable: Boolean = true,
      isGenerated: Boolean = false)

  private val DecimalRe = """decimal\((\d+)\s*,\s*(\d+)\).*""".r

  /** MySQL type → Spark type (SURVEY §1.2 mapping table). */
  def toSpark(sqlType: String): DataType = {
    val t = sqlType.toLowerCase.trim
    t match {
      case s if s.startsWith("bigint") && s.contains("unsigned") => DecimalType(20, 0)
      case s if s.startsWith("bigint") => LongType
      case s if (s.startsWith("int") || s.startsWith("mediumint") ||
        s.startsWith("smallint") || s.startsWith("tinyint")) && s.contains("unsigned") =>
        LongType // widened so the unsigned range fits
      case s if s.startsWith("tinyint(1)") => BooleanType
      case s if s.startsWith("int") || s.startsWith("mediumint") ||
        s.startsWith("smallint") || s.startsWith("tinyint") => IntegerType
      case DecimalRe(p, sc) => DecimalType(p.toInt, sc.toInt)
      case s if s.startsWith("float") || s.startsWith("double") => DoubleType
      case s if s.startsWith("datetime") || s.startsWith("timestamp") => TimestampType
      case s if s.startsWith("date") => DateType
      case s if s.startsWith("bit") => BinaryType
      case s if s.contains("blob") || s.startsWith("binary") || s.startsWith("varbinary") =>
        BinaryType
      case s if s.startsWith("json") || s.startsWith("enum") || s.startsWith("set") ||
        s.startsWith("time") || s.contains("char") || s.contains("text") => StringType
      case _ => StringType
    }
  }

  def toStruct(cols: Seq[SourceColumn]): StructType =
    StructType(cols.map(c => StructField(c.name, toSpark(c.sqlType), c.nullable)))

  /** Columns a writer must emit — generated columns are excluded
    * (utils.go:91-93 uses a placeholder DEFAULT for them).
    */
  def writableColumns(cols: Seq[SourceColumn]): Seq[SourceColumn] =
    cols.filterNot(_.isGenerated)

  // ---- binlog signedness fix-ups (msg.go:230-273) ------------------------

  /** Re-interpret a decoded signed value as unsigned, per declared width.
    * The binlog carries e.g. -1 for an unsigned TINYINT 255.
    */
  def unsignedFixup(v: Long, width: Int): Long = {
    require(Set(8, 16, 24, 32).contains(width), s"width $width")
    if (v >= 0) v else v + (1L << width)
  }

  /** Unsigned BIGINT can exceed Long — surfaces as Decimal(20,0). */
  def unsignedBigintFixup(v: Long): java.math.BigDecimal =
    if (v >= 0) java.math.BigDecimal.valueOf(v)
    else java.math.BigDecimal.valueOf(v).add(new java.math.BigDecimal("18446744073709551616"))

  /** Signed MEDIUMINT arrives as a 3-byte two's-complement value that some
    * decoders hand over zero-extended; re-sign it (msg.go:253-263).
    */
  def mediumintResign(v: Int): Int =
    if ((v & 0x800000) != 0) v | 0xff000000 else v
}

/** In-memory schema catalog with DDL invalidation — the Spark analogue of
  * the reference's SchemaStore cache (schema_store.go:142-148; invalidation
  * on DDL at binlog_tailer.go:455).
  */
final class SchemaCatalog(fetch: (String, String) => StructType) {
  private val cache = scala.collection.concurrent.TrieMap.empty[(String, String), StructType]

  def schemaOf(db: String, table: String): StructType =
    cache.getOrElseUpdate((db, table), fetch(db, table))

  /** Called when a DDL control row passes for `db` (the reference
    * invalidates the whole database's entry).
    */
  def invalidate(db: String): Unit =
    cache.keys.filter(_._1 == db).foreach(cache.remove)
}
