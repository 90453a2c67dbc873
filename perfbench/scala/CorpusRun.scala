package perfbench

import org.apache.spark.sql.SparkSession

/** Batch-corpus driver of the benchmark's `corpus_sample` workload.
  *
  * {{{
  * CorpusRun setup <dataDir>
  * CorpusRun run <dataDir> <resultFile> <verifyDir> <q1,q2,...> <seconds>
  * }}}
  *
  * `setup` creates the session the way `graft.Bench` does, prints the
  * ready line and exits. `run` then materializes every named
  * `SparkEntry.queries` entry with a noop write: once cold, then warm
  * back to back, releasing `CachedPlans` between queries as `Bench`
  * does. Every run is one JSON line in `resultFile`. After a query's
  * timed runs, and before its caches are released, it is dumped
  * untimed into `verifyDir` the way `graft.Verify` dumps it (one
  * single-file parquet directory per query, plus `oracle_sql.json`)
  * for the DuckDB oracle check, `scripts/selfcheck.py`. Dumping while
  * the caches are still held costs about a warm run. `graft.Verify`
  * cannot do it: called after the timed runs it rebuilds every
  * query's caches, about the cost of a second cold pass (~18 s of a
  * ~65 s run), and called per query it would stop the session after
  * the first.
  */
object CorpusRun {
  private val minWarm = 2
  private val maxWarm = 3
  private val warmUp = "q_scan_project"

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    println("""{"ready":true}""")
    args.toSeq match {
      case Seq("setup", _) => spark.stop()
      case Seq("run", dataDir, resultFile, verifyDir, names, seconds) =>
        run(spark, dataDir, resultFile, verifyDir, names.split(',').toSeq,
          seconds.toDouble)
      case _ => sys.error("usage: CorpusRun setup <dataDir> | run <dataDir> " +
        "<resultFile> <verifyDir> <q1,q2,...> <seconds>")
    }
  }

  private def run(spark: SparkSession, dataDir: String, resultFile: String,
      verifyDir: String, names: Seq[String], seconds: Double): Unit = {
    val queries = graft.SparkEntry.queries
    val missing = names.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val out = new java.io.PrintWriter(resultFile, "UTF-8")

    def once(name: String, pass: String): Unit = {
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val df = queries(name)(spark, dataDir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      val stored = spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum
      val line = s"""{"k":"query","name":${Trace.q(name)},""" +
        s""""pass":"$pass","start":$start,""" +
        s""""end":${start + (t2 - t0) / 1000000},""" +
        s""""build_ms":${(t1 - t0) / 1e6},"ms":${(t2 - t0) / 1e6},""" +
        s""""stored_bytes":$stored}"""
      out.println(line)
    }

    // untimed: JVM class loading and first-use set-up land on a query
    // outside the sample, not on whichever sampled query comes first
    queries(warmUp)(spark, dataDir).write.format("noop").mode("overwrite")
      .save()
    graft.CachedPlans.release()

    new java.io.File(verifyDir).mkdirs()
    val oracle = graft.SparkEntry.oracleSql
      .map { case (k, v) => s"${Trace.q(k)}: ${Trace.q(v)}" }
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(verifyDir, "oracle_sql.json"), oracle)

    // each query gets an equal share of the measuring time; its warm
    // run repeats (back to back, caches still held) minWarm times, and
    // more while its warm runs fit in the share, up to maxWarm runs
    val share = (seconds * 1e9 / names.size).toLong
    try names.foreach { n =>
      try {
        once(n, "cold")
        val t0 = System.nanoTime()
        var warm = 0
        while (warm < minWarm ||
            (warm < maxWarm && System.nanoTime() - t0 < share)) {
          once(n, "warm")
          warm += 1
        }
        queries(n)(spark, dataDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$verifyDir/$n")
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[corpus] $n failed: " +
          s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
      graft.CachedPlans.release()
    } finally out.close()
    Trace.flush()
    spark.stop()
  }
}
