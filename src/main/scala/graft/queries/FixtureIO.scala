package graft.queries

import org.apache.spark.sql.DataFrame

/** Deterministic single-file parquet mirrors for the DuckDB oracle's
  * inputs (the near chains, the lockup states): Spark's part-file names
  * embed a fresh write UUID, which would churn the git-tracked fixture
  * tree even though the bytes are deterministic. Rename the single
  * part file to `data.parquet` and drop the marker files so repeated
  * runs are byte-identical on disk.
  */
object FixtureIO {
  def writeStable(df: DataFrame, dir: String): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = p.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    f.listStatus(p).map(_.getPath).foreach { c =>
      if (c.getName.startsWith("part-"))
        f.rename(c, new org.apache.hadoop.fs.Path(p, "data.parquet"))
      else if (c.getName == "_SUCCESS") f.delete(c, false)
    }
  }
}
