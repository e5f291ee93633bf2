package connbench

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The JDBC workloads' source: `lineitem` in an in-memory Derby database
  * inside the benchmark's JVM, typed as the repository's JDBC tests type
  * their Derby tables (BIGINT, INT, DOUBLE, VARCHAR, TIMESTAMP).
  *
  * Derby is not the Postgres wire protocol. The JDBC workloads measure
  * the Spark-side layers (min/max probe, schema resolve, JDBC fetch,
  * row→column, Arrow encode), not a network or a server.
  */
object Fixture {

  val Url = "jdbc:derby:memory:connbench"

  /** Create the table and bulk-import `csv` (lineitem without a header,
    * written by run.py). Runs without Spark, so it can overlap the
    * session start. The returned connection keeps the database open. */
  def importCsv(csv: String): Connection = {
    val conn = DriverManager.getConnection(s"$Url;create=true")
    val st = conn.createStatement()
    st.execute("""CREATE TABLE lineitem (
      l_orderkey BIGINT NOT NULL, l_partkey BIGINT, l_suppkey BIGINT,
      l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE,
      l_discount DOUBLE, l_tax DOUBLE, l_returnflag VARCHAR(1),
      l_linestatus VARCHAR(1), l_shipdate TIMESTAMP)""")
    val imp = conn.prepareCall(
      "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, 'LINEITEM', ?, ',', '\"', 'UTF-8', 0)")
    imp.setString(1, csv)
    imp.execute()
    imp.close()
    st.execute("CREATE INDEX lineitem_okey ON lineitem (l_orderkey)")
    st.close()
    conn
  }

  /** Order-independent fingerprint: row count and the XOR of each row's
    * xxhash64. `l_shipdate` is hashed as text because Derby returns a
    * TIMESTAMP where the Parquet file has a TIMESTAMP_NTZ. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.columns.toSeq.map { c =>
      if (c.equalsIgnoreCase("l_shipdate")) col(c).cast("string") else col(c)
    }
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(cols: _*))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Check the Derby copy against the Parquet fingerprint `want`, with a
    * plain Spark JDBC read (not the code under test). */
  def verify(spark: SparkSession, want: (Long, Long), parquet: DataFrame,
      cores: Int): Unit = {
    val derby = spark.read.jdbc(Url, "lineitem", "l_orderkey", 0L, 150000L,
      cores, new java.util.Properties())
    val got = fingerprint(derby)
    if (got != want) {
      val bad = parquet.columns.filter(c =>
        fingerprint(parquet.select(c)) != fingerprint(derby.select(c)))
      throw new IllegalStateException(s"Derby copy of lineitem $got differs " +
        s"from Parquet $want in ${bad.mkString(", ")}")
    }
  }
}
