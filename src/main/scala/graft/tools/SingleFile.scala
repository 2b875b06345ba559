package graft.tools

import org.apache.spark.sql.DataFrame

/** The test-data table layout for the generators: one parquet FILE per
  * table (tools/check.py's DuckDB views read `<dir>/<t>.parquet` as one
  * file, not a glob).
  */
object SingleFile {
  def write(df: DataFrame, dst: String, table: String): Unit = {
    val tmp = s"$dst/_tmp_$table"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val dir = new java.io.File(tmp)
    val part = dir.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      new java.io.File(s"$dst/$table.parquet").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    dir.listFiles().foreach(_.delete()); dir.delete()
  }
}
