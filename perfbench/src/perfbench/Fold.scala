package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Independent last-writer-wins fold of raw binlog envelope rows into
  * the table's final state: per key the highest-LSN event wins (a
  * `row_number` window, not the program's `max_by` reduce), deletes
  * drop the key, and the JSON payload is read with `get_json_object`
  * under every historical field name, newest first. Shares no code with
  * `graft.cdc.Apply`, so agreement between the two is evidence. */
object Fold {

  val stateCols: Seq[String] =
    Seq("repo", "path", "lsn", "ts", "commit", "lang", "content", "stargazers")

  def state(raw: DataFrame): DataFrame = {
    def field(n: String) = get_json_object(col("after"), "$." + n)
    raw
      .withColumn("_rank", row_number().over(
        Window.partitionBy("repo", "path").orderBy(col("lsn").desc)))
      .filter(col("_rank") === 1 && col("op") =!= "D")
      .select(col("repo"), col("path"), col("lsn"), col("ts"),
        field("commit").as("commit"), field("lang").as("lang"), field("content").as("content"),
        coalesce(field("stargazers"), field("stars")).cast("long").as("stargazers"))
  }
}
