package graftbench

import java.io.File

import scala.collection.mutable

import graft.SparkEntry

/** Query workloads (serve_short, iterate_heavy): one closed-loop client
  * runs a frozen list of registry queries in seeded passes. A query
  * execution is the registry-function call plus a `noop`-sink write of the
  * returned Dataset; `count()` is never the timed action. */
object QueryServe {

  def run(h: Harness): Map[String, Any] = {
    val o = h.o
    val reg = SparkEntry.queries
    val defaultSf = o.config("sf")
    val specs: Seq[(String, String)] = o.config("queries").split(",").toSeq.map { s =>
      s.split("@") match {
        case Array(n, sf) => n -> sf
        case Array(n) => n -> defaultSf
      }
    }
    specs.filterNot(s => reg.contains(s._1)).foreach(s => h.findings += s"unknown query ${s._1}")
    val known = specs.filter(s => reg.contains(s._1))
    def dir(sf: String): String = s"${o.data}/$sf"
    val rnd = new scala.util.Random(o.seed)

    /** Warm-pass execution: every query once, in list order, untimed. Its
      * result is written as Parquet (one file, row order kept) for run.py
      * to compare with the DuckDB oracle's answer. */
    def warm(n: String, sf: String): Unit = {
      var digest = ""
      val result = s"${o.work}/results/$sf/$n"
      val (r, ms) = h.op("query", n) {
        val df = reg(n)(h.spark, dir(sf))
        val (observed, obs) = Digest.observe(df)
        observed.coalesce(1).write.mode("overwrite").parquet(result)
        digest = Digest.read(df, obs)
      }
      h.releaseAll()
      h.record(Op("query", n, r.isDefined, ms,
        Map("sf" -> sf, "digest" -> digest, "result" -> result)))
    }

    // Set-up: session, page-cache prefault and the warm pass, so the window
    // measures steady state (a serving engine stays up between queries).
    h.setup {
      known.map(_._2).distinct.foreach(sf => Files2.prefault(new File(dir(sf))))
      known.foreach { case (n, sf) => warm(n, sf) }
    }
    // make_oracle.py: the warm pass's results and digests are what it freezes.
    if (o.workload == "freeze")
      return Map("digests" -> h.ops.map(x => s"${x.name}@${x.detail("sf")}" -> x.detail("digest")).toMap)

    /** One execution: registry call + noop-sink write, digest-checked. */
    def execute(n: String, sf: String, op: String): Option[Map[String, Any]] = {
      h.tracer.operation(op)
      var buildMs = 0.0
      var digest = ""
      val (r, ms) = h.op("query", n) {
        h.tracer("queries.query") {
          val b0 = System.nanoTime()
          val df = h.tracer("queries.build")(reg(n)(h.spark, dir(sf)))
          buildMs = (System.nanoTime() - b0) / 1e6
          h.tracer.counters.foreach(_.addAnalysis(df.queryExecution))
          val (observed, obs) = Digest.observe(df)
          h.tracer("queries.exec")(observed.write.format("noop").mode("overwrite").save())
          digest = Digest.read(df, obs)
          if (h.tracer.enabled) {
            val (pins, bytes) = h.pins()
            h.tracer.annotate("pins" -> pins, "pinned_bytes" -> bytes)
          }
        }
      }
      h.tracer("materialize.release")(h.releaseAll())
      h.record(Op("query", n, r.isDefined, ms, Map("sf" -> sf, "digest" -> digest)))
      r.map(_ => Map("q" -> n, "ms" -> ms, "build_ms" -> buildMs, "exec_ms" -> (ms - buildMs)))
    }

    // Timed window: seeded passes until `seconds` have elapsed; the first
    // pass always completes so every query has a sample.
    val samples = mutable.ArrayBuffer[Map[String, Any]]()
    val t0 = System.nanoTime()
    val deadline = t0 + (o.seconds * 1e9).toLong
    var passes = 0
    var stop = false
    var i = 0
    while (!stop) {
      val it = rnd.shuffle(known).iterator
      while (!stop && it.hasNext) {
        val (n, sf) = it.next()
        if (passes >= 1 && System.nanoTime() > deadline) stop = true
        else {
          samples ++= execute(n, sf, s"q$i:$n")
          i += 1
        }
      }
      if (!it.hasNext) passes += 1
      if (System.nanoTime() > deadline) stop = true
    }
    val windowS = (System.nanoTime() - t0) / 1e9

    // Traced runs also time count() once per query, to flag queries whose
    // count() lets Catalyst prune the measured work.
    val countMs = mutable.Map[String, Double]()
    if (h.tracer.enabled) known.foreach { case (n, sf) =>
      h.tracer.operation(s"count:$n")
      val (r, ms) = h.op("count", n)(h.tracer("queries.count")(reg(n)(h.spark, dir(sf)).count()))
      if (r.isDefined) countMs(n) = ms
      h.releaseAll()
    }

    Map("samples" -> samples.toSeq, "passes" -> passes, "window_s" -> windowS,
      "count_ms" -> countMs.toMap, "queries" -> known.map(_._1))
  }
}

/** Order-insensitive digest of a query's output rows, computed by a
  * `Dataset.observe` node in the same execution that is timed: row count
  * plus two sums of 32-bit row hashes, keyed by the output schema. Row
  * order is checked once per run, on the warm pass's Parquet result. */
object Digest {
  import org.apache.spark.sql.{Column, DataFrame, Observation}
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.MapType

  def observe(df: DataFrame): (DataFrame, Observation) = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      // hash expressions reject maps; hash their JSON form instead
      f.dataType match { case _: MapType => to_json(c); case _ => c }
    }
    val obs = Observation()
    val mask = lit(0xffffffffL)
    (df.observe(obs, count(lit(1)).as("n"),
      sum(xxhash64(cols: _*).bitwiseAND(mask)).as("h1"),
      sum(hash(cols: _*).cast("long").bitwiseAND(mask)).as("h2")), obs)
  }

  def read(df: DataFrame, obs: Observation): String = {
    val m = obs.get
    val schema = Integer.toHexString(df.schema.simpleString.hashCode)
    s"${m("n")}:${m("h1")}:${m("h2")}:$schema"
  }
}
