package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** What an op's output must match, computed apart from Spark by
  * `oracle.py` (DuckDB over the same parquet files) and read from JSON.
  * `kind` is "oracle" (the registry's oracle SQL: same columns, same type
  * class, same values row by row) or "property" (an answer a stated
  * property of the method is checked against, see [[Check.property]]).
  */
final case class Expected(
    key: String, kind: String, columns: Seq[String], types: Seq[String],
    rows: JsonNode)

object Check {

  private val mapper = new ObjectMapper()

  def load(path: String): Expected = {
    val n = mapper.readTree(new java.io.File(path))
    def strs(f: String) = (0 until n.get(f).size).map(i => n.get(f).get(i).asText)
    Expected(n.get("key").asText, n.get("kind").asText, strs("columns"),
      strs("types"), n.get("rows"))
  }

  /** Value class of a DuckDB type name, as `tools/oracle_check.py` collapses
    * it: integer widths are one class, DECIMAL and floats are one class, and
    * HUGEINT is a class of its own that never matches. */
  def duckClass(t: String): String = {
    val b = t.split("\\(")(0).trim
    if (b.endsWith("[]")) "list"
    else b match {
      case "TINYINT" | "SMALLINT" | "INTEGER" | "BIGINT" | "UTINYINT" |
          "USMALLINT" | "UINTEGER" | "UBIGINT" => "int"
      case "HUGEINT" | "UHUGEINT" => "hugeint"
      case "DOUBLE" | "FLOAT" | "REAL" | "DECIMAL" => "float"
      case "VARCHAR" => "string"
      case "BOOLEAN" => "bool"
      case "DATE" => "date"
      case "BLOB" => "binary"
      case s if s.startsWith("TIMESTAMP") => "timestamp"
      case s if s.startsWith("STRUCT") => "struct"
      case s => s
    }
  }

  def sparkClass(t: DataType): String = t match {
    case ByteType | ShortType | IntegerType | LongType => "int"
    case FloatType | DoubleType | _: DecimalType => "float"
    case StringType => "string"
    case BooleanType => "bool"
    case DateType => "date"
    case BinaryType => "binary"
    case TimestampType | TimestampNTZType => "timestamp"
    case _: ArrayType => "list"
    case _: StructType => "struct"
    case o => o.typeName
  }

  /** numpy.isclose(g, e, rtol=1e-9, atol=1e-9), NaN equal to NaN. */
  def close(g: Double, e: Double): Boolean =
    (g.isNaN && e.isNaN) || g == e || math.abs(g - e) <= 1e-9 + 1e-9 * math.abs(e)

  private def num(n: JsonNode): Double =
    if (n.isTextual) n.asText match {
      case "NaN" => Double.NaN
      case "Infinity" => Double.PositiveInfinity
      case "-Infinity" => Double.NegativeInfinity
      case s => s.toDouble
    } else n.asDouble

  private def micros(t: java.sql.Timestamp): Long =
    Math.addExact(Math.multiplyExact(Math.floorDiv(t.getTime, 1000L), 1000000L), t.getNanos / 1000L)

  /** One Spark value against one JSON value of the oracle's answer. */
  def same(v: Any, n: JsonNode, t: DataType): Boolean = (v, t) match {
    case (null, _) => n == null || n.isNull
    case _ if n == null || n.isNull => false
    case (x: Number, ByteType | ShortType | IntegerType | LongType) =>
      n.isIntegralNumber && n.bigIntegerValue == java.math.BigInteger.valueOf(x.longValue)
    case (x: java.math.BigDecimal, _: DecimalType) => close(x.doubleValue, num(n))
    case (x: Number, FloatType | DoubleType) => close(x.doubleValue, num(n))
    case (x: String, StringType) => n.isTextual && n.asText == x
    case (x: Boolean, BooleanType) => n.isBoolean && n.asBoolean == x
    case (x: java.sql.Timestamp, TimestampType) => n.isIntegralNumber && n.asLong == micros(x)
    case (x: java.time.Instant, TimestampType) =>
      n.isIntegralNumber && n.asLong == x.getEpochSecond * 1000000L + x.getNano / 1000
    case (x: java.time.LocalDateTime, TimestampNTZType) =>
      val i = x.toInstant(java.time.ZoneOffset.UTC)
      n.isIntegralNumber && n.asLong == i.getEpochSecond * 1000000L + i.getNano / 1000
    case (x: java.sql.Date, DateType) => n.isIntegralNumber && n.asLong == x.toLocalDate.toEpochDay
    case (x: java.time.LocalDate, DateType) => n.isIntegralNumber && n.asLong == x.toEpochDay
    case (x: Array[Byte], BinaryType) =>
      n.isTextual && n.asText == x.map(b => f"${b & 0xff}%02x").mkString
    case (x: scala.collection.Seq[_], ArrayType(et, _)) =>
      n.isArray && n.size == x.size && x.indices.forall(i => same(x(i), n.get(i), et))
    case (x: Row, st: StructType) =>
      n.isArray && n.size == st.size && st.fields.indices.forall(i => same(x.get(i), n.get(i), st(i).dataType))
    case _ => false
  }

  /** The rules of `tools/oracle_check.py`: the same column names (compared
    * in sorted order), the same value class per column, the same row count,
    * and equal values row by row — exact, floats within 1e-9. Returns the
    * first difference, or "" when the output matches. */
  def oracle(schema: StructType, rows: Array[Row], e: Expected): String = {
    val got = schema.fieldNames.toSeq
    if (got.sorted != e.columns.sorted)
      return s"COLUMNS spark=${got.sorted.mkString(",")} oracle=${e.columns.sorted.mkString(",")}"
    val idx = e.columns.zipWithIndex.toMap
    for (f <- schema.fields) {
      val (sc, oc) = (sparkClass(f.dataType), duckClass(e.types(idx(f.name))))
      if (sc != oc) return s"TYPE col=${f.name} spark=${f.dataType.simpleString} oracle=${e.types(idx(f.name))}"
    }
    if (rows.length != e.rows.size) return s"ROWS spark=${rows.length} oracle=${e.rows.size}"
    for (r <- rows.indices; (f, c) <- schema.fields.zipWithIndex) {
      val exp = e.rows.get(r).get(idx(f.name))
      if (!same(rows(r).get(c), exp, f.dataType))
        return s"VALUE col=${f.name} row=$r spark=${rows(r).get(c)} oracle=$exp"
    }
    ""
  }

  private def col(rows: Array[Row], schema: StructType, name: String): Array[Any] = {
    val i = schema.fieldIndex(name)
    rows.map(_.get(i))
  }

  private def long(v: Any): Long = v.asInstanceOf[Number].longValue

  /** Checks for ops whose answer is approximate or not expressible in SQL.
    * Each compares Spark's output with what the method guarantees against
    * the exact answer DuckDB gives in `e`. */
  def property(key: String, schema: StructType, rows: Array[Row], e: Expected): String = {
    def exp(r: Int, c: Int): JsonNode = e.rows.get(r).get(c)
    key match {
      case "agg_approx_distinct" =>
        // HyperLogLog++ at rsd 0.02: every estimate within 4 standard
        // errors of DuckDB's exact distinct count, per event type.
        if (rows.length != e.rows.size) return s"ROWS spark=${rows.length} exact=${e.rows.size}"
        for (r <- rows.indices) {
          val (t, est) = (rows(r).getString(0), long(rows(r).get(1)))
          val (et, exact) = (exp(r, 0).asText, exp(r, 1).asLong)
          if (t != et) return s"GROUP row=$r spark=$t exact=$et"
          if (math.abs(est - exact) > math.max(2.0, 0.08 * exact))
            return s"ESTIMATE $t: $est vs exact $exact"
        }
        ""
      case "udaf_countmin" =>
        // Count-Min never underestimates: cms_est >= the exact count, the
        // exact count equals DuckDB's, and bound_ok states the eps*N bound
        // for the event type's N.
        if (rows.length != e.rows.size) return s"ROWS spark=${rows.length} exact=${e.rows.size}"
        val est = col(rows, schema, "cms_est").map(long)
        val ex = col(rows, schema, "exact_n").map(long)
        val ok = col(rows, schema, "bound_ok")
        for (r <- rows.indices) {
          val want = exp(r, 2).asLong
          if (ex(r) != want) return s"EXACT row=$r spark=${ex(r)} duckdb=$want"
          if (est(r) < ex(r)) return s"UNDERESTIMATE row=$r est=${est(r)} exact=${ex(r)}"
          val bound = est(r) <= ex(r) + math.ceil(0.001 * exp(r, 3).asLong).toLong
          if (ok(r) != bound) return s"BOUND_OK row=$r says ${ok(r)}"
        }
        ""
      case "scan_parquet_metadata" =>
        // One row per file: the footer's row count and contiguous row
        // indexes 0..n-1.
        if (rows.length != 1) return s"FILES ${rows.length}"
        val footer = exp(0, 0).asLong
        if (long(col(rows, schema, "n_rows")(0)) != footer) return s"ROWS footer=$footer"
        if (col(rows, schema, "idx_contiguous")(0) != true) return "ROW_INDEX not contiguous"
        ""
      case "dedup_simhash" =>
        // Planted near-duplicate pairs (doc, doc + 1e6) for docs 0..9;
        // 8 bands of 8 bits find every pair within Hamming distance 7.
        val ids = col(rows, schema, "doc_a").map(long).toSeq
        if (ids != (0L until math.min(10L, exp(0, 0).asLong))) return s"PAIRS ${ids.mkString(",")}"
        for (r <- rows) {
          val h = long(r.getAs[Any]("hamming"))
          if (long(r.getAs[Any]("doc_b")) != long(r.getAs[Any]("doc_a")) + 1000000L) return "DOC_B"
          if (h < 0 || h > 64) return s"HAMMING $h"
          if (h <= 7 && !r.getAs[Boolean]("lsh_candidate")) return s"MISSED pair at hamming $h"
        }
        ""
      case "dedup_minhash" | "dedup_pipeline" =>
        // Every reported pair names two existing (or planted) documents
        // with the lower id first; MinHash estimates lie on the 1/32 grid
        // (rounded to 4 decimals) above the 0.4 threshold; the pipeline keeps the lowest id of a
        // group and removes each document once.
        val docs = exp(0, 0).asLong
        def exists(id: Long) =
          (id >= 0 && id < docs) || (id >= 1000000L && id < 1000000L + math.min(10L, docs))
        val (a, b) =
          if (key == "dedup_minhash") ("doc_a", "doc_b") else ("kept_doc", "removed_doc")
        val as = col(rows, schema, a).map(long)
        val bs = col(rows, schema, b).map(long)
        if (rows.isEmpty) return "EMPTY"
        for (r <- rows.indices) {
          if (!exists(as(r)) || !exists(bs(r))) return s"UNKNOWN doc ${as(r)} ${bs(r)}"
          if (as(r) >= bs(r)) return s"ORDER ${as(r)} ${bs(r)}"
        }
        if (key == "dedup_minhash") {
          for (j <- col(rows, schema, "est_jaccard").map(_.asInstanceOf[Number].doubleValue))
            if (j < 0.4 || j > 1.0 || math.abs(j - math.rint(j * 32) / 32) > 5e-5 + 1e-12)
              return s"JACCARD $j"
        } else if (bs.distinct.length != bs.length) return "REMOVED twice"
        ""
      case "ml_dbscan_grid" =>
        // The cluster census: at most 15 rows, biggest first; every
        // cluster is named by one of its customers, holds at least one core
        // point and counts core + border = total; the noise row (-1) has
        // neither.
        val customers = exp(0, 0).asLong
        if (rows.isEmpty || rows.length > 15) return s"ROWS ${rows.length}"
        val comp = col(rows, schema, "component").map(long)
        val core = col(rows, schema, "n_core").map(long)
        val border = col(rows, schema, "n_border").map(long)
        val total = col(rows, schema, "n_total").map(long)
        for (r <- rows.indices) {
          if (core(r) + border(r) != total(r) && comp(r) != -1) return s"CENSUS row=$r"
          if (comp(r) == -1 && (core(r) != 0 || border(r) != 0)) return "NOISE row has members"
          if (comp(r) != -1 && (comp(r) < 0 || comp(r) >= customers || core(r) < 1))
            return s"CLUSTER row=$r component=${comp(r)} cores=${core(r)}"
          if (r > 0 && (total(r) > total(r - 1) ||
              (total(r) == total(r - 1) && comp(r) < comp(r - 1)))) return s"ORDER row=$r"
        }
        if (total.sum > customers) return s"MEMBERS ${total.sum} > $customers customers"
        ""
      case other => s"NO PROPERTY CHECK for $other"
    }
  }

  def apply(schema: StructType, rows: Array[Row], e: Expected): String =
    if (e.kind == "oracle") oracle(schema, rows, e) else property(e.key, schema, rows, e)
}
