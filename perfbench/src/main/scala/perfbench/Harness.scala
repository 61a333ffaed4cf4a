package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.{Sessions, SparkEntry, Tables}
import graft.expressions.UnicodeNormalize
import graft.functions.TextFns
import graft.ops.{NearDup, Snap}
import graft.pipeline.Sparkify

/** JVM side of the benchmark: one closed-loop client in one process.
  *
  * Usage (normally launched by `run.py`, which generates the inputs and
  * checks the outputs):
  * {{{
  * Harness <workload> <queries,...|etl> <inputsDir> <outDir> <seconds> <trace 0|1> <cpus> <spawnEpochMs>
  * }}}
  *
  * Set-up (build a session, run untimed warm-up operations) is timed from
  * process spawn. Then operations run back to back, whole rounds at a
  * time, until `seconds` have passed. Every operation is a call into the program's
  * public API: `Sparkify.run` for the ETL workloads, one
  * `SparkEntry.queries` entry materialised with `collect()` for the query
  * mixes. The raw samples go to `<outDir>/harness.json`; `run.py` turns
  * them into metrics.
  */
object Harness {
  /** One timed operation: a name and the call into the program. It
    * returns the rows handed to the client and their schema (nothing for
    * the ETL, whose output is checked on disk).
    */
  final case class Op(name: String,
      run: (SparkSession, Int, Int) => Option[(StructType, Array[Row])])

  final case class Sample(round: Int, name: String, start: Double, ms: Double,
      cpuMs: Double, traced: Boolean, ok: Boolean, load0: Double, load1: Double,
      steal: Double)

  def main(args: Array[String]): Unit = {
    val Array(workload, opsArg, inputs, out, secondsArg, traceArg, cpus, spawnArg) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val rec = new Recorder
    Files.createDirectories(Paths.get(out))

    val etl = opsArg == "etl"
    val mix = if (etl) Nil else opsArg.split(",").toSeq
    // --- set-up: build a session and run untimed operations on the real
    // inputs (the whole pipeline four times; the whole mix once), so class
    // loading, JIT and each query's code generation are not in the samples.
    // A query that fails here fails again when timed, and is counted there.
    // Set-up counts from process spawn, so JVM start is in it.
    val spark = Sessions.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    rec.attach(spark)
    if (etl) for (i <- 1 to 4) Sparkify.run(spark, s"$inputs/song_data/*/*/*/*.json",
      s"$inputs/log_data/*/*/*.json", s"$out/warm-$i")
    else for (q <- mix) {
      try SparkEntry.queries(q)(spark, inputs).collect()
      catch { case _: Exception => () }
      Snap.drainTracked()
    }
    val setupS = (rec.nowMs() - spawnArg.toDouble) / 1000.0

    // --- the operations of one round ------------------------------------
    val ops: Seq[Op] =
      if (etl) Seq(Op("pipeline.Sparkify.run", (s, i, _) => {
        Sparkify.run(s, s"$inputs/song_data/*/*/*/*.json",
          s"$inputs/log_data/*/*/*.json", s"$out/run-$i")
        None
      }))
      else mix.map { q =>
        val fn = SparkEntry.queries(q)
        Op(q, (s, _, parent) => {
          val df = fn(s, inputs)
          val rows = df.collect()
          rec.span("ops.Snap.drain", parent)(_ => Snap.drainTracked())
          Some((df.schema, rows))
        })
      }

    // --- correctness: first result per query is kept for the oracle;
    // later results must hash to the same multiset of rows -------------
    val firstHash = scala.collection.mutable.Map[String, (Long, Int)]()
    val failures = ArrayBuffer[String]()
    def check(s: SparkSession, op: String, schema: StructType, rows: Array[Row]): Boolean = {
      val h = (rows.iterator.map(r => rowHash(r)).sum, rows.length)
      firstHash.get(op) match {
        case None =>
          firstHash(op) = h
          s.createDataFrame(rows.toSeq.asJava, schema)
            .coalesce(1).write.mode("overwrite").parquet(s"$out/first/$op")
          true
        case Some(want) =>
          if (want != h) failures += s"$op: result differs from its first run"
          want == h
      }
    }

    // --- the closed loop ------------------------------------------------
    val samples = ArrayBuffer[Sample]()
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val w0 = rec.nowMs()
    var round = 0
    var execs = 0
    // The traced run has at least three rounds. Round 0 is traced whole,
    // because it is what the untraced run measures (in a query mix, one
    // round usually fills `seconds`). Later rounds trace every other operation,
    // the other half each round, so every operation has traced and
    // untraced executions, traced first for half of them: the overhead
    // compares the two without favouring the later, warmer execution.
    def more = rec.nowMs() - w0 < seconds * 1000 || (trace && round < 3)
    while (more) {
      rec.enabled = trace
      rec.span("round") { rid =>
        for ((op, i) <- ops.zipWithIndex) {
          rec.enabled = trace && (round == 0 || (round + i) % 2 == 0)
          val la0 = Sentinel.loadAvg()
          val st0 = Sentinel.cpuTicks()
          val c0 = os.getProcessCpuTime
          val t0 = rec.nowMs()
          var ms, cpuMs = 0.0
          def stop(): Unit = if (ms == 0.0) {
            ms = rec.nowMs() - t0
            cpuMs = (os.getProcessCpuTime - c0) / 1e6
          }
          val ok = try {
            val res = rec.span(if (etl) op.name else s"query.${op.name}", rid)(id =>
              op.run(spark, execs, id))
            stop()
            res.forall { case (schema, rows) => check(spark, op.name, schema, rows) }
          } catch {
            case t: Throwable =>
              stop()
              failures += s"${op.name}: ${t.getClass.getSimpleName}: ${t.getMessage}"
              false
          }
          samples += Sample(round, op.name, t0, ms, cpuMs, rec.enabled, ok, la0,
            Sentinel.loadAvg(), Sentinel.stealPct(st0, Sentinel.cpuTicks()))
          execs += 1
        }
      }
      round += 1
    }

    // --- traced run only: the CPU kernels alone, each drained to `noop` -
    if (trace && workload == "curation_mix") {
      rec.enabled = true
      val docs = Tables(spark, inputs, "documents")
      val toks = docs.withColumn("toks", TextFns.tokens("text"))
      val ks: Seq[(String, DataFrame)] = Seq(
        "functions.TextFns.fingerprint" -> docs.select(TextFns.fingerprint("text")),
        "functions.TextFns.minShingleHash" -> docs.select(TextFns.minShingleHash("text", 5)),
        "functions.TextFns.qualityScore" -> toks.select(TextFns.qualityScore("text", "toks")),
        "expressions.UnicodeNormalize.nfc" -> docs.select(UnicodeNormalize.nfc(col("text"))),
        "ops.NearDup.minHashSigs" -> NearDup.minHashSigs(
          docs.withColumn("sh", TextFns.shingles("text", 5)), "doc_id", "sh", 64, "sig"),
        "ops.NearDup.withSimHash" -> NearDup.withSimHash(toks, "toks", "sim"))
      // two calls each; the first compiles, and only the second is traced
      for (rep <- 1 to 2; (name, df) <- ks) {
        rec.enabled = rep == 2
        rec.span(name)(_ => df.write.format("noop").mode("overwrite").save())
      }
    }
    rec.enabled = false
    val (spans, events) = rec.drain()

    // oracle SQL for the queries this workload ran
    val oracle = mix.map(q => s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}")
    val json = new StringBuilder
    json ++= s"""{"setup_s":$setupS,"""
    json ++= s""""peak_rss_kb":${Sentinel.peakRssKb()},"rounds":$round,"""
    json ++= s""""failures":[${failures.map(Json.str).mkString(",")}],"""
    json ++= s""""oracle":{${oracle.mkString(",")}},"samples":["""
    json ++= samples.map { s =>
      s"""{"round":${s.round},"name":${Json.str(s.name)},"start":${s.start},"ms":${s.ms},""" +
        s""""cpu_ms":${s.cpuMs},""" +
        s""""traced":${s.traced},"ok":${s.ok},"load":[${s.load0},${s.load1},${s.steal}]}"""
    }.mkString(",")
    json ++= s"""],"spans":[${spans.mkString(",")}],"events":[${events.mkString(",")}]}"""
    Files.writeString(Paths.get(s"$out/harness.json"), json.toString)
    Sessions.quiesceStreaming()
    spark.stop()
  }

  /** Order-independent row hash: the sum over rows of a 64-bit hash of
    * the row's rendering (two 32-bit MurmurHash3 halves).
    */
  def rowHash(r: Row): Long = {
    val s = render(r)
    (scala.util.hashing.MurmurHash3.stringHash(s, 17).toLong << 32) ^
      (scala.util.hashing.MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL)
  }

  /** A value's rendering by content (byte arrays would otherwise render by
    * identity), with map entries in sorted order.
    */
  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}

/** Contention sentinel: load average and hypervisor steal around each
  * operation, so a run on a noisy host can be recognised from its output.
  */
object Sentinel {
  def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (total, steal) jiffies from the aggregate cpu line of /proc/stat. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Throwable => (0L, 0L) }

  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._1 > a._1) (b._2 - a._2) * 100.0 / (b._1 - a._1) else 0.0

  /** Peak resident set (VmHWM) of this JVM, in kB. */
  def peakRssKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong)
      .getOrElse(-1L)
    catch { case _: Throwable => -1L }
}
