package graft

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness (SURVEY §5.2): one SparkSession per forked test
  * JVM, built by `Harness.session` at 4 cores (the session Verify and
  * Bench run in), and DuckDB connections pinned to UTC with views over a
  * scale-factor directory of the driver-generated parquet tables.
  */
object TestEnv {
  val Sf001  = "/root/testdata/sf0.001"
  val Sf01   = "/root/testdata/sf0.01"

  /** The bench-scale corpus — NOT part of the Sf001/Sf01 test-fixture
    * contract (round-15 ADVICE): suites that deliberately exercise it
    * (the biggest local corpus, where oracle walks are never run) must
    * honor the Bench env override and `assume(sfBenchExists)` so a host
    * without the bench fixtures cancels those cases instead of failing.
    */
  val SfBench: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  def sfBenchExists: Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(SfBench))

  lazy val spark: SparkSession = Harness.session(4)

  /** DuckDB oracle over the same parquet files (in-JVM, offline). */
  def duck(sfDir: String): Connection = {
    Class.forName("org.duckdb.DuckDBDriver")
    val con = DriverManager.getConnection("jdbc:duckdb:")
    val st = con.createStatement()
    st.execute("SET TimeZone='UTC'")
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      st.execute(
        s"CREATE VIEW $t AS SELECT * FROM read_parquet('$sfDir/$t.parquet')")
    }
    st.close()
    con
  }

  /** Canonical value string for cross-engine compare. Only shapes our
    * declared queries actually emit (R2/R3 discipline keeps outputs to
    * long/double/decimal/string/timestamp/bool).
    *
    * Timestamps: Spark may hand back java.sql.Timestamp (TimestampType) or
    * java.time.LocalDateTime (TimestampNTZ from parquet); DuckDB JDBC hands
    * back java.sql.Timestamp. All are naive UTC wall clocks here (session
    * TZ pinned) — canonicalize to one wall-clock format with the fraction
    * trimmed of trailing zeros so representation differences can't produce
    * false mismatches.
    */
  def canon(v: Any): String = v match {
    case null                       => "NULL"
    case d: java.math.BigDecimal    => d.toPlainString
    case d: scala.math.BigDecimal   => d.bigDecimal.toPlainString
    case d: java.lang.Double if d.isNaN => "NaN"
    case f: java.lang.Float if f.isNaN  => "NaN"
    case t: java.sql.Timestamp      => wallClock(t.toLocalDateTime)
    case t: java.time.LocalDateTime => wallClock(t)
    case t: java.time.Instant       =>
      wallClock(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case d: java.sql.Date           => d.toString
    case other                      => String.valueOf(other)
  }

  private def wallClock(t: java.time.LocalDateTime): String = {
    val base = f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02d " +
      f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
    if (t.getNano == 0) base
    else base + "." + f"${t.getNano}%09d".reverse.dropWhile(_ == '0').reverse
  }

  /** Rows of a Spark result, columns sorted by name (mirrors the driver's
    * column-name-keyed hash), values canonicalized. Relies on rule R1:
    * every oracle-checked query ends in a total-order ORDER BY.
    */
  def sparkRows(df: DataFrame): (Seq[String], Seq[Seq[String]]) = {
    val cols  = df.columns.toSeq
    val order = cols.sorted.map(cols.indexOf)
    val rows = df.collect().toSeq.map(r => order.map(i => canon(r.get(i))))
    (cols.sorted, rows)
  }

  def duckRows(con: Connection, sql: String): (Seq[String], Seq[Seq[String]]) = {
    val st = con.createStatement()
    val rs = st.executeQuery(sql)
    val md = rs.getMetaData
    val n  = md.getColumnCount
    val cols  = (1 to n).map(md.getColumnName)
    val order = cols.sorted.map(c => cols.indexOf(c) + 1)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    while (rs.next()) buf += order.map(i => canon(rs.getObject(i)))
    rs.close(); st.close()
    (cols.sorted, buf.toSeq)
  }
}

/** Base class for graft test suites. */
abstract class GraftSpec extends AnyFunSuite {
  def spark: SparkSession = TestEnv.spark
}
