package perfbench

import org.apache.spark.sql.SparkSession

/** The one session factory of the benchmark: the settings `graft.Bench`
  * runs the queries under (AQE, the Graft extensions and catalog, the
  * codegen cache), with every scratch directory private to the run. */
object Session {
  def local(cpus: Int, runDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/spark-warehouse")
      .config("spark.storage.memoryMapThreshold", "2g")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
