package graft
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *   sbt "runMain graft.Verify <sfDir> <outDir> [query ...]"
  * Trailing names restrict the dump, and oracle_sql.json, to those
  * queries.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Verify <sfDir> <outDir> [query ...]")
    val names = Harness.checked(args.toSeq.drop(2))
    val spark = Harness.session()
    dump(spark, args(0), args(1), names)
    spark.stop()
  }

  /** Dump `names` (every registered query when empty) under `outDir`. */
  def dump(spark: SparkSession, sfDir: String, outDir: String, names: Seq[String]): Unit = {
    val queries = Harness.queries(names)
    new java.io.File(outDir).mkdirs()
    queries.foreach { name =>
      // a query that fails must leave no result behind: a previous
      // run's parquet would otherwise reach the oracle compare
      val out = new org.apache.hadoop.fs.Path(s"$outDir/$name")
      out.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(out, true)
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.parquet(out.toString)
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Jackson escapes quotes, backslashes and ALL control chars: a tab or
    // CR in an oracle's SQL must not break the compare's json.load
    val json = new ObjectMapper().writeValueAsString(
      SparkEntry.oracleSql.filter(kv => queries.contains(kv._1)).asJava)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    graft.queries.Staged.release(spark)
  }
}
