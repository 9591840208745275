package perfbench

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.engine.{JdbcTargetWriter, MigrationOptions, Migrator, MssqlModeEngine, MssqlSchemaSource, MySqlFlavor, MySqlModeEngine}
import graft.mapping.TypeRegistry

/** Reproduces a defect on the MySQL-dialect wire, kept out of the
  * benchmark's workloads until it is fixed: migrating `copies` CamelCase
  * region/nation/supplier trios from the MSSQL-dialect shim into the
  * MySQL-dialect shim, with snake_case and constraints on, aborts after
  * a Derby lock wait (40XL1) at some parallelism settings.
  *
  * Usage: LockRepro <data dir> <copies> <parallelism>
  * (`python3 perfbench/run.py --repro-lock <parallelism>` runs it).
  */
object LockRepro {
  def main(args: Array[String]): Unit = {
    val Array(data, copiesArg, parallelismArg) = args
    val spark = SparkSession.builder().master("local[4]").appName("lock-repro")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val src = MssqlModeEngine.url("memory:lock_repro_src;create=true")
    val dst = MySqlModeEngine.url("memory:lock_repro_dst;create=true")
    val c = java.sql.DriverManager.getConnection(src)
    try {
      val st = c.createStatement()
      (0 until copiesArg.toInt).foreach { k =>
        st.execute(s"CREATE TABLE [RegionDim$k] ([RegionKey] BIGINT NOT NULL " +
          "PRIMARY KEY, [RegionName] VARCHAR(64) DEFAULT 'none')")
        st.execute(s"CREATE TABLE [NationDim$k] ([NationKey] BIGINT NOT NULL " +
          "PRIMARY KEY, [NationName] VARCHAR(64) UNIQUE, " +
          s"[RegionKey] BIGINT REFERENCES [RegionDim$k]([RegionKey]))")
        st.execute(s"CREATE TABLE [SupplierFacts$k] ([SuppKey] BIGINT NOT NULL " +
          "PRIMARY KEY, [SupplierName] NVARCHAR(64), " +
          s"[NationKey] BIGINT REFERENCES [NationDim$k]([NationKey]), " +
          "[AcctBal] FLOAT CHECK ([AcctBal] > -10000))")
        val props = new java.util.Properties
        val pq = (t: String) => spark.read.parquet(s"$data/$t.parquet")
        pq("region").select(col("r_regionkey").cast("long").as("RegionKey"),
          col("r_name").as("RegionName"))
          .write.mode("append").jdbc(src, s"[RegionDim$k]", props)
        pq("nation").select(col("n_nationkey").cast("long").as("NationKey"),
          col("n_name").as("NationName"), col("n_regionkey").cast("long").as("RegionKey"))
          .write.mode("append").jdbc(src, s"[NationDim$k]", props)
        pq("supplier").select(col("s_suppkey").as("SuppKey"),
          col("s_name").as("SupplierName"), col("s_nationkey").cast("long").as("NationKey"),
          col("s_acctbal").as("AcctBal"))
          .write.mode("append").jdbc(src, s"[SupplierFacts$k]", props)
      }
      st.close()
    } finally c.close()

    val t0 = System.nanoTime()
    val outcome = Try(new Migrator(spark, new MssqlSchemaSource(src),
      new JdbcTargetWriter(dst, MySqlFlavor), TypeRegistry.withDefaults(),
      MigrationOptions(maxConcurrentTasks = parallelismArg.toInt,
        formatSnakeCase = true, createConstraints = true)).run())
    val s = (System.nanoTime() - t0) / 1e9
    println(outcome.fold(
      e => f"FAILED after $s%.1f s: ${e.getMessage}",
      r => f"migrated ${r.size} tables in $s%.1f s"))
    spark.stop()
  }
}
