package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built: the Bench and Verify
  * mains, the tools and the tests all start here, so every session
  * plans with the same config and the same engine.
  *
  * [[graft.GraftExtensions]] is applied at creation: the session starts
  * with graft's SQL functions, its table functions and the exact join
  * rules (Hamming, Jaccard prefix, interval bin). The approximate
  * cosine rewrite stays opt-in through `spark.graft.cosineJoin.rewrite`.
  * Nothing installs rules on a session after this, so a query's plan
  * cannot depend on which queries ran before it.
  */
object Sessions {
  def local(
      cores: Int = Runtime.getRuntime.availableProcessors(),
      warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // tz-naive parquet timestamps = UTC instants here (reference
      // semantics); read them as TimestampType so time arithmetic works.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    warehouseDir.foreach(b.config("spark.sql.warehouse.dir", _))
    val spark = b.getOrCreate()
    // getOrCreate hands back an already-running session unchanged, and
    // extensions only apply to a session it creates.
    require(spark.catalog.functionExists("vec_cosine"),
      "a SparkSession without graft's extensions already exists in this JVM")
    spark
  }
}
