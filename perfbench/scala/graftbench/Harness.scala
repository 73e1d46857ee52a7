package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftSession
import graft.operators.Materialize
import org.apache.spark.sql.SparkSession

/** Command line of the JVM side; perfbench/run.py builds it. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, data: String, out: String, cores: Int,
    config: Map[String, String], negativeControl: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("work"), kv("data"), kv("out"),
      kv("cores").toInt,
      kv.filter(_._1.startsWith("cfg.")).map { case (k, v) => k.stripPrefix("cfg.") -> v },
      kv.getOrElse("negative-control", "0") == "1")
  }
}

/** One operation of a run: a lifecycle step, a lake read or a query
  * execution. `ok=false` marks a failed or wrong operation. */
final case class Op(kind: String, name: String, ok: Boolean, ms: Double,
    detail: Map[String, Any] = Map.empty)

/** Session, set-up and bookkeeping shared by the workloads. */
final class Harness(val o: Opts) {
  val tracer = new Tracer(o.trace)
  val ops: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer()
  val findings: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()
  var setupS: Double = 0.0
  private var session: SparkSession = _
  def spark: SparkSession = session

  /** The engine's own session builder, sized to this machine. */
  private def build(): SparkSession = {
    val s = GraftSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Builds the session and runs `warm`, the workload's fixed warm-up.
    * `setup_s` is the time from JVM start to the end of the warm-up, i.e.
    * to the first timed operation. Tracing starts after it. */
  def setup(warm: => Unit): Unit = {
    session = build()
    warm
    setupS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    if (o.trace) {
      val k = new SparkCounters(session.sparkContext)
      session.sparkContext.addSparkListener(k)
      session.listenerManager.register(k)
      tracer.counters = Some(k)
      tracer.start()
    }
  }

  def stop(): Unit = if (session != null) { Materialize.sweep(); session.stop() }

  /** Runs one timed operation; an exception marks it failed. */
  def op[T](kind: String, name: String)(body: => T): (Option[T], Double) = {
    val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case e: Throwable =>
        val msg = s"$kind $name failed: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        System.err.println(s"[perfbench] $msg")
        findings += msg
        None
    }
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def record(o: Op): Unit = ops += o

  /** Driver peak resident set (VmHWM) in MB. */
  def rssPeakMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  /** Pins currently held: (count, bytes), read from the storage status. */
  def pins(): (Int, Long) = {
    val info = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    (info.length, info.map(r => r.memSize + r.diskSize).sum)
  }

  /** Frees what one query left behind, outside any timed region. */
  def releaseAll(): Unit = {
    Materialize.sweep()
    spark.sharedState.cacheManager.clearCache()
  }

  def write(result: Map[String, Any]): Unit = {
    val all = result ++ Map("workload" -> o.workload, "seed" -> o.seed,
      "setup_s" -> setupS, "rss_peak_mb" -> rssPeakMb,
      "ops" -> ops.toSeq.map(x => Map("kind" -> x.kind, "name" -> x.name, "ok" -> x.ok,
        "ms" -> x.ms, "detail" -> x.detail)),
      "findings" -> findings.toSeq) ++
      (if (o.trace) Map("spans" -> tracer.toJson, "self_s" -> tracer.selfSeconds) else Map.empty)
    Files.writeString(Paths.get(o.out), Json(all))
  }
}

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

object Files2 {
  /** Data files under a directory (no checksums, markers or metadata). */
  def dataFiles(dir: File): Seq[File] =
    if (!dir.exists()) Nil
    else Files.walk(dir.toPath).iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .toSeq

  def bytes(dir: File): Long = dataFiles(dir).map(_.length).sum

  /** Reads every byte once so timed reads find the inputs in page cache. */
  def prefault(dir: File): Unit = dataFiles(dir).foreach(f => Files.readAllBytes(f.toPath))

  def digest(f: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString
  }

  def rm(f: File): Unit = org.apache.commons.io.FileUtils.deleteQuietly(f)
}

object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    if (o.workload == "oracle-sql") {
      // The registry's DuckDB oracle SQL, for perfbench/make_oracle.py.
      val names = o.config("queries").split(",").map(_.split("@")(0)).toSet
      Files.writeString(Paths.get(o.out),
        Json(graft.SparkEntry.oracleSql.filter(kv => names.contains(kv._1))))
      return
    }
    val h = new Harness(o)
    val result = o.workload match {
      case "lake_sweep" => LakeSweep.run(h)
      case "serve_short" | "iterate_heavy" | "freeze" => QueryServe.run(h)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    h.write(result)
    h.stop()
  }
}
