package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites are
  * sequential under sbt's default test runner with fork=true).
  */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Catalog tables (bucketed-layout tests) land in tmp, not the repo.
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-test-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark
  def sf: String = SparkSuite.sf

  /** Runs `body` and returns its result with the start event of every
    * Spark job that started while it ran, on any thread (a streaming
    * query's jobs carry its query and batch ids in their properties). A
    * marker job then flushes the FIFO listener bus: once the marker's own
    * start event has been delivered, every earlier job's has been too.
    * The marker itself is not returned; [[jobNames]] names the rest.
    */
  def jobsDuring[T](body: => T): (T, Seq[SparkListenerJobStart]) = {
    val jobs = Seq.newBuilder[SparkListenerJobStart]
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties)
            .exists(_.getProperty("graft.test.flush") != null))
          flushed.countDown()
        else jobs.synchronized { jobs += j; () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      // marker: collect on an unshuffled range = exactly ONE job
      // (count() would be two under AQE — shuffle stage + final)
      spark.sparkContext.setLocalProperty("graft.test.flush", "1")
      try spark.range(1).collect()
      finally spark.sparkContext.setLocalProperty("graft.test.flush", null)
      assert(flushed.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "the listener bus did not deliver the marker job")
      (out, jobs.synchronized(jobs.result()))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Each job's result-stage name ("count at Warehouse.scala:123"), for
    * assertion messages.
    */
  def jobNames(jobs: Seq[SparkListenerJobStart]): String =
    jobs.map(_.stageInfos.sortBy(_.stageId).lastOption
      .fold("(no stage)")(_.name)).mkString("; ")

  /** A twin of path store `store` that never gets a Bloom sidecar: a
    * copy of its data, tombstones and metadata siblings, but not its
    * `.bloom`. The one store probe over the twin plans the plain join
    * against the same store state — the reference a sidecar probe must
    * reproduce.
    */
  def plainTwin(store: String): String = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(store).getFileSystem(conf)
    val twin = java.nio.file.Files.createTempDirectory("plain-twin")
      .toString + "/store"
    for (suffix <- Seq("", ".tombstones", ".hashform", ".stride")) {
      val from = new org.apache.hadoop.fs.Path(store + suffix)
      if (fs.exists(from))
        org.apache.hadoop.fs.FileUtil.copy(fs, from, fs,
          new org.apache.hadoop.fs.Path(twin + suffix), false, conf)
    }
    twin
  }

  /** [[plainTwin]] for a bucketed store table: `<table>_plain_twin`,
    * with the table's rows, bucket spec, `graft.*` properties and
    * `_tombstones`, but not its `_bloom`. Replaces an earlier twin.
    */
  def plainTwinTable(table: String): String = {
    val twin = table + "_plain_twin"
    spark.sql(s"DROP TABLE IF EXISTS $twin")
    val catalog = spark.sessionState.catalog
    def entry(t: String) = catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(t))
    val md = entry(table)
    val bucketing = md.bucketSpec.get
    graft.layout.Layout.writeBucketed(spark.table(table), twin,
      bucketing.numBuckets, bucketing.bucketColumnNames.head)
    val props = md.properties.filter(_._1.startsWith("graft."))
    if (props.nonEmpty)
      spark.sql(s"ALTER TABLE $twin SET TBLPROPERTIES (" +
        props.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ") + ")")
    val conf = spark.sessionState.newHadoopConf()
    val tomb = new org.apache.hadoop.fs.Path(md.location.toString,
      "_tombstones")
    val fs = tomb.getFileSystem(conf)
    if (fs.exists(tomb))
      org.apache.hadoop.fs.FileUtil.copy(fs, tomb, fs,
        new org.apache.hadoop.fs.Path(entry(twin).location.toString,
          "_tombstones"), false, conf)
    twin
  }
}
