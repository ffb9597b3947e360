package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import graft.SparkEntry
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One benchmark process: a fresh JVM that builds a session, runs a
  * workload's queries one after another as a single closed-loop client,
  * and writes `result.json` to `out=`.
  *
  * Arguments are `key=value` pairs:
  *   data     directory of generated `<table>.parquet` inputs
  *   queries  comma-separated `SparkEntry.queries` names, in order
  *   seconds  length of the warm phase
  *   trace    `1` alternates untraced and traced warm passes and adds the
  *            kernel and funnel probes
  *   cores    N of `local[N]`
  *   tmp      Spark local dir
  *   out      result directory
  *
  * Every execution is timed from the call into `SparkEntry.queries` to the
  * last row returned by `collect()`, which materialises every row and
  * column. Each cold result is dumped as parquet as soon as its timing
  * ends, for the oracle check, and is not kept; every warm result must
  * equal the cold one. The live heap is read after every execution, while
  * its result DataFrame is still referenced. */
object Harness {

  /** Outcome of one execution of one query. */
  final case class Exec(name: String, pass: Int, latencyS: Double,
      rows: Long, digest: Long, error: Option[String])

  def main(args: Array[String]): Unit = {
    val conf = args.map { a =>
      a.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => sys.error(s"argument '$a' is not key=value")
      }
    }.toMap
    val heap = new HeapPeak
    val cores = conf("cores").toInt
    val avail = Runtime.getRuntime.availableProcessors()
    require(cores <= avail, s"local[$cores] exceeds the $avail available processors")
    val data = conf("data")
    val out = Paths.get(conf("out"))
    Files.createDirectories(out)
    val trace = conf.getOrElse("trace", "0") == "1"

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", conf("tmp"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val readyMs = System.currentTimeMillis()

    val result = new Json.Obj
    result.put("ready_ms", readyMs)
    result.put("spark_version", spark.version)
    result.put("java_version", System.getProperty("java.version"))
    result.put("max_heap_mb", Runtime.getRuntime.maxMemory / 1048576.0)
    result.put("cores", cores)

    val names = conf("queries").split(",").toSeq.filter(_.nonEmpty)
    val all = SparkEntry.queries
    names.filterNot(all.contains).foreach(n => sys.error(s"unknown query $n"))
    val seconds = conf("seconds").toDouble
    val sc = spark.sparkContext
    val tracer = if (trace) Some(new Tracer(spark, cores)) else None

    // returns the result DataFrame for the heap reading, but not its rows
    def runOne(name: String, pass: Int, traced: Boolean): (Exec, DataFrame) = {
      sc.setJobGroup(s"graftbench|$name|$pass", name, interruptOnCancel = false)
      val ctx = if (traced) tracer.map(_.begin(name, pass)) else None
      val t0 = System.nanoTime()
      try {
        val df = all(name)(spark, data)
        ctx.foreach { c => c.mark("catalyst.plan"); df.queryExecution.executedPlan }
        ctx.foreach(_.mark("exec.action"))
        val rows = df.collect()
        val t1 = System.nanoTime()
        ctx.foreach(_.finish(df))
        if (pass == 0) {
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
            .coalesce(1).write.mode("overwrite").parquet(out.resolve("rows").resolve(name).toString)
        }
        (Exec(name, pass, (t1 - t0) / 1e9, rows.length, Digest(rows), None), df)
      } catch {
        case e: Throwable if !e.isInstanceOf[VirtualMachineError] =>
          ctx.foreach(_.fail())
          val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}"
          (Exec(name, pass, (System.nanoTime() - t0) / 1e9, 0, 0, Some(msg.take(300))), null)
      } finally {
        sc.clearJobGroup()
        tracer.foreach(_.end())
      }
    }

    def runAndSample(name: String, pass: Int, traced: Boolean): Exec = {
      val (e, df) = runOne(name, pass, traced)
      heap.sample(df)
      e
    }

    // cold pass: the first execution of every query in this JVM
    val cold = names.map(runAndSample(_, 0, traced = false))
    // untraced runs keep one cheap progress listener for the warm phase:
    // micro-batch latency is what a streaming user sees
    val batchMs = mutable.ArrayBuffer.empty[Double]
    val batchListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Option(e.progress.durationMs.get("triggerExecution"))
          .foreach(v => batchMs.synchronized(batchMs += v.doubleValue))
    }
    if (!trace) spark.streams.addListener(batchListener)
    // warm phase: whole passes until `seconds` have elapsed, and at least
    // two, so a pass that ends just past `seconds` on a loaded host does not
    // halve the samples; the traced run alternates untraced and traced
    // passes, starting and ending untraced, so JIT warm-up still in
    // progress does not favour either
    val warm = mutable.ArrayBuffer.empty[(Exec, Boolean)]
    val passWalls = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val warmStart = System.nanoTime()
    var pass = 1
    val minPasses = if (trace) 3 else 2
    while (pass <= minPasses || (System.nanoTime() - warmStart) / 1e9 < seconds ||
        (trace && pass % 2 == 0)) {
      val traced = trace && pass % 2 == 0
      val execs = names.map(runAndSample(_, pass, traced))
      warm ++= execs.map(_ -> traced)
      passWalls += (execs.map(_.latencyS).sum -> traced)
      pass += 1
    }
    if (!trace) {
      ListenerDrain(sc)
      spark.streams.removeListener(batchListener)
    }

    // probes run after the timed phase, so they cannot disturb it
    if (trace) result.put("probes", Probes.run(spark, data, cores))

    val coldDigest = cold.map(e => e.name -> e).toMap
    def execJson(e: Exec, traced: Boolean): Json.Obj = {
      val o = new Json.Obj
      o.put("name", e.name); o.put("pass", e.pass); o.put("latency_s", e.latencyS)
      o.put("rows", e.rows); o.put("traced", traced)
      val c = coldDigest(e.name)
      val ok = e.error.isEmpty && c.error.isEmpty &&
        (e.pass == 0 || (e.digest == c.digest && e.rows == c.rows))
      o.put("same_as_cold", ok)
      e.error.foreach(o.put("error", _))
      o
    }
    result.put("cold", Json.arr(cold.map(execJson(_, false))))
    result.put("warm", Json.arr(warm.map { case (e, t) => execJson(e, t) }))
    result.put("pass_walls", Json.arr(passWalls.map { case (w, t) =>
      val o = new Json.Obj; o.put("wall_s", w); o.put("traced", t); o
    }))
    result.put("heap_live_peak_mb", heap.peakMb)
    result.put("batch_ms", batchMs.synchronized(batchMs.toSeq))
    val oracle = SparkEntry.oracleSql
    result.put("oracle_sql", names.flatMap(n => oracle.get(n).map(n -> _)).toMap)
    tracer.foreach(t => result.put("trace", t.report(passWalls.count(_._2))))
    Json.write(out.resolve("result.json"), result)
    spark.stop()
  }
}

/** Order-insensitive digest of a result: the sum of a 64-bit hash of each
  * row's canonical text. Equal multisets of rows give equal digests. */
object Digest {
  def apply(rows: Array[Row]): Long = rows.foldLeft(0L) { (acc, r) =>
    val s = canon(r)
    acc + ((MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x1b873593) & 0xffffffffL))
  }

  private def canon(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(canon).mkString("(", "\u0001", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "\u0002" + canon(x) }.sorted.mkString("{", "\u0001", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", "\u0001", "]")
    case x => x.toString
  }
}
