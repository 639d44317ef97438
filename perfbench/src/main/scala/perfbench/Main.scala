package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload for a fixed time and writes its raw measurements.
  *
  * Usage: perfbench.Main <workload> <input dir> <seed> <seconds> <trace 0|1>
  *          <launch epoch ms> <result json> <check dir>
  *
  * End-to-end runs (trace 0) time every operation with no listener
  * registered and no span recorded. A traced run (trace 1) runs the same
  * sequence with every operation traced, which gives the per-layer
  * numbers. The last result of each catalog entry is
  * written as parquet under the check dir, with its oracle SQL, for the
  * oracle comparison that runs after this process ends.
  */
object Main {
  /** The session graft.Bench measures with: local[cores] with as many
    * shuffle partitions, the plan extensions, Bench's status-store caps,
    * event truncation, periodic GC, and codegen cache. */
  def session(cores: Int, scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "100")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.event.truncate.length", "2048")
      .config("spark.cleaner.periodicGC.interval", "5min")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the session state (catalog, analyzer, the plan extensions) is built
    // lazily on first use; build it here so set-up, not the first timed
    // operation, pays for it in every run, traced or not
    spark.listenerManager
    spark
  }

  /** Bench's release of dead localCheckpoint blocks between operations. */
  def releaseDeadState(s: SparkSession): Unit =
    s.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = false))

  def digest(r: Result): String = {
    val md = MessageDigest.getInstance("MD5")
    r.rows.map(_.toSeq.mkString("\u0001")).sorted.foreach(l => md.update(l.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def main(args: Array[String]): Unit = {
    val Array(workload, dir, seedS, secondsS, traceS, launchS, outPath, checkDir) = args
    val traced = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, System.getProperty("java.io.tmpdir"))
    val wl = Workload(workload, spark, dir, seedS.toLong)
    val setupJvmS = (System.currentTimeMillis() - launchS.toLong) / 1000.0

    val errors = mutable.ArrayBuffer.empty[String]
    val failedOps = mutable.Set.empty[Int]
    val seen = mutable.Map.empty[String, String]
    val last = mutable.LinkedHashMap.empty[String, Result]
    val stageSecs = mutable.Map.empty[String, Seq[Double]]
    val probe = new Probe(spark)
    var resultRows = 0L
    var i = 0

    /** Runs operation i and returns its time; checks and keeps its
      * results outside that time. */
    def runOp(): Double = {
      Tracer.op = i
      val a = System.nanoTime()
      val res = try Tracer.span("bench", s"op.$workload")(wl.op()) catch {
        case e: Throwable =>
          errors += s"op $i: ${e.getClass.getName}: ${e.getMessage}".take(500)
          failedOps += i
          Nil
      }
      val secs = (System.nanoTime() - a) / 1e9
      if (probe.attached) probe.stageSecs().foreach { case (t, x) =>
        stageSecs(t) = stageSecs.getOrElse(t, Nil) :+ x }
      resultRows += res.map(_.rows.length.toLong).sum
      res.foreach { r =>
        val d = digest(r)
        if (seen.getOrElseUpdate(r.key, d) != d) {
          errors += s"op $i: result of ${r.key} differs from an earlier run with the same inputs"
          failedOps += i
        }
        r.catalog.foreach(last(_) = r)
      }
      releaseDeadState(spark)
      i += 1
      secs
    }
    if (traced) probe.attach()
    val opS = mutable.ArrayBuffer.empty[Double]
    val limitNs = (secondsS.toDouble * 1e9).toLong
    val t0 = System.nanoTime()
    while (i == 0 || System.nanoTime() - t0 < limitNs) opS += runOp()
    if (traced) probe.detach()
    val spans = Tracer.spans

    // output checks, outside the timed region
    new File(checkDir).mkdirs()
    last.foreach { case (name, r) =>
      spark.createDataFrame(r.rows.toSeq.asJava, r.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$checkDir/$name")
    }
    val oracle = last.keys.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _))
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"),
      oracle.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))

    // heap the driver still holds once every dead block is released: the
    // context cleaner frees broadcasts and shuffles only after a GC has
    // cleared their references, so collect again once it has had time
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = true))
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    val liveHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val layers =
      if (!traced) Map.empty[String, Double]
      else Layers(probe, spans, stageSecs.toMap, opS.size, opS.sum, cores, resultRows)
    if (traced) {
      val self = Tracer.selfTimes(spans)
      val w = new PrintWriter(s"$outPath.spans.jsonl", "UTF-8")
      try spans.foreach { sp =>
        w.println(s"""{"id":${sp.id},"parent":${sp.parent},"op":${sp.op},""" +
          s""""layer":${q(sp.layer)},"name":${q(sp.name)},"start_ns":${sp.startNs},""" +
          s""""end_ns":${sp.endNs},"self_s":${num(self(sp.id))}}""")
      } finally w.close()
    }
    val json =
      s"""{"workload":${q(workload)},"setup_jvm_s":${num(setupJvmS)},""" +
      s""""op_s":[${opS.map(num).mkString(",")}],"attempted":${opS.size},""" +
      s""""failed_ops":${failedOps.size},"errors":[${errors.map(q).mkString(",")}],""" +
      s""""live_heap_mb":${num(liveHeapMb)},"checked":[${last.keys.map(q).mkString(",")}],""" +
      s""""layers":{${layers.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString(",")}}}"""
    Files.writeString(Paths.get(outPath), json)
    spark.stop()
  }
}
