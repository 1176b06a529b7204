package perfbench

import org.apache.spark.sql.SparkSession

/** Loads the classes a run starts with: a local session that writes and
  * reads a small parquet table. `build.py` runs it once per build with
  * `-XX:ArchiveClassesAtExit` to dump a class-data archive that later
  * runs map at JVM start instead of loading the Spark jars' classes. */
object Startup {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("id", "id % 7 AS k").write.mode("overwrite").parquet(s"$dir/t")
    spark.read.parquet(s"$dir/t").groupBy("k").count().collect()
    spark.stop()
  }
}
