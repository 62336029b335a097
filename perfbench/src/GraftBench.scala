package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.{ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** JVM side of the benchmark: drives declared queries through the public
  * `graft.SparkEntry.queries` and writes a raw record that
  * `perfbench/run.py` turns into metrics.
  *
  * Set-up (JVM start -> `GraftSession.get()` -> every table open), one
  * cold pass, then warm passes until `--seconds` have been spent in them
  * (at least `--min-warm`).
  *
  * A pass runs every query of the mix once, collecting its result, on its
  * own fresh copy of the input tables, so no driver memo keyed on the
  * input directory can replay an earlier pass. Pass 0 runs the
  * seed-shuffled order, pass 1 its reverse, later passes fresh shuffles:
  * every pair of queries runs in both orders, which lets the record show
  * whether any query's job count depends on what ran before it.
  */
object GraftBench {
  private def now(): Long = System.nanoTime()

  final case class Exec(pass: Int, query: String, startNs: Long, endNs: Long,
      rows: Long, digest: String, error: String, jobs: Long = 0L)

  final case class Pass(index: Int, order: Seq[String], traced: Boolean, startNs: Long,
      endNs: Long, heapPeakBytes: Long, gcEvents: Long, gcMs: Long, codegenCompileMs: Double)

  final case class Setup(setupS: Double, getS: Double)

  /** One instant on both clocks: pass and query spans are nanoTime, job,
    * stage and batch spans epoch milliseconds. */
  final case class Clock(nano: Long, epochMs: Long)

  /** The raw run record, written as JSON with snake_case field names. */
  final case class Record(setup: Setup, clock: Clock, cpus: Int, mix: Seq[String],
      modules: Map[String, String], passes: Seq[Pass], execs: Seq[Exec], jobs: Seq[Recorder.Job],
      stages: Seq[Recorder.Stage], batches: Seq[Recorder.Batch], writes: Seq[Recorder.Write],
      blockPeakBytes: Map[Int, Long], probes: Seq[KernelProbes.Probe])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val data = opts("data")
    val (spark, getS) = setUp(data)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val record = run(spark, opts, data, Setup(setupS, getS))
    Files.writeString(Paths.get(opts("out")), Json.writeValueAsString(record))
    spark.stop()
  }

  /** `GraftSession.get()` and every table opened; returns the get() time. */
  private def setUp(data: String): (SparkSession, Double) = {
    val g0 = now()
    val spark = graft.GraftSession.get()
    val getS = (now() - g0) / 1e9
    graft.Tables.names.foreach(t => graft.Tables(spark, data, t).schema)
    (spark, getS)
  }

  private val Json = new ObjectMapper().registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)

  private def run(spark: SparkSession, opts: Map[String, String], data: String, setup: Setup): Record = {
    val work = Paths.get(opts("work"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val minWarm = opts("min-warm").toInt
    val traceOn = opts("trace") == "1"
    val planted = opts("plant-throw") == "1"
    val mix = opts("mix").split(",").toSeq.filter(_.nonEmpty) ++
      (if (planted) Seq(PlantedThrow) else Nil)
    val fns: Map[String, (SparkSession, String) => DataFrame] =
      graft.SparkEntry.queries + (PlantedThrow -> ((_: SparkSession, _: String) =>
        throw new IllegalStateException("planted failure")))
    val unknown = mix.filterNot(fns.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val sc = spark.sparkContext
    val rec = new Recorder
    sc.addSparkListener(rec)
    spark.streams.addListener(rec.streams)

    val first = new Random(seed).shuffle(mix)
    def order(k: Int): Seq[String] = k match {
      case 0 => first
      case 1 => first.reverse
      case _ => new Random(seed * 1000003L + k).shuffle(mix)
    }

    val execs = Seq.newBuilder[Exec]
    val passes = Seq.newBuilder[Pass]
    var lastResults = Map.empty[String, (Array[Row], StructType)]
    var warmNs = 0L
    var k = 0
    val heap = new HeapPeak
    System.gc() // every pass starts from a collected heap; later ones from the GC below
    while (k == 0 || k <= minWarm || warmNs < seconds * 1e9) {
      val dir = copyInputs(Paths.get(data), work.resolve(s"pass_$k"))
      // traced runs trace the cold pass and alternate warm passes, so the
      // untraced warm passes in between price the tracing itself
      val traced = traceOn && (k == 0 || k % 2 == 1)
      rec.pass = k
      rec.traced = traced
      val gc0 = gcMs()
      val cg0 = Codegen.compileMs()
      heap.take()
      val results = Map.newBuilder[String, (Array[Row], StructType)]
      val done = Seq.newBuilder[(String, Long, Long, Either[Throwable, Array[Row]])]
      val p0 = now()
      for (name <- order(k)) {
        sc.setLocalProperty(Recorder.QueryProp, name)
        sc.setLocalProperty(Recorder.PassProp, k.toString)
        val t0 = now()
        val res = try {
          val df = fns(name)(spark, dir)
          val rows = df.collect()
          results += name -> (rows, df.schema)
          Right(rows)
        } catch { case e: Throwable => Left(e) }
        spark.catalog.clearCache()
        done += ((name, t0, now(), res))
      }
      val p1 = now()
      // digests after the pass: the query spans then tile the pass wall time
      execs ++= done.result().map {
        case (name, t0, t1, Right(rows)) => Exec(k, name, t0, t1, rows.length.toLong, digest(rows), "")
        case (name, t0, t1, Left(e)) => Exec(k, name, t0, t1, 0L, "",
          s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")}")
      }
      sc.setLocalProperty(Recorder.QueryProp, null)
      sc.setLocalProperty(Recorder.PassProp, null)
      org.apache.spark.PerfbenchDrain(sc)
      rec.traced = false
      val gc = gcMs() - gc0
      val cg = Codegen.compileMs() - cg0
      // the full GC's own sample, in case its notification is still queued
      System.gc()
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      val (peak, gcEvents) = heap.take()
      passes += Pass(k, order(k), traced, p0, p1, math.max(peak, used), gcEvents, gc, cg)
      System.err.println(f"[perfbench] pass $k: ${(p1 - p0) / 1e9}%.2f s")
      lastResults = results.result()
      if (k > 0) warmNs += p1 - p0
      deleteTree(work.resolve(s"pass_$k"))
      k += 1
    }

    val probes = if (traceOn) KernelProbes.run(spark, data, seed) else Nil
    System.err.println(s"[perfbench] kernel probes: ${probes.size}")
    rec.pass = -1
    writeVerifyLayout(spark, work.resolve("verify"), mix, lastResults)
    val jobCounts = execs.result().map(e =>
      e.copy(jobs = Option(rec.queryJobs.get((e.pass, e.query))).map(_.get).getOrElse(0L)))
    Record(setup, Clock(now(), System.currentTimeMillis()), sc.defaultParallelism, mix,
      graft.SparkEntry.modules.flatMap { m =>
        val file = m.getClass.getSimpleName.stripSuffix("$")
        m.defs.filter(q => mix.contains(q.name)).map(q => q.name -> file)
      }.toMap,
      passes.result(), jobCounts, rec.jobs.toSeq, rec.stages.toSeq, rec.batches.toSeq,
      rec.writes.toSeq, rec.blockPeak.toMap, probes)
  }

  val PlantedThrow = "perfbench_planted_throw"

  /** Order-insensitive digest of a collected result. */
  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().take(12).map(b => f"$b%02x").mkString
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def copyInputs(from: Path, to: Path): String = {
    Files.createDirectories(to)
    graft.Tables.names.foreach { t =>
      Files.copy(from.resolve(s"$t.parquet"), to.resolve(s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    to.toString
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  /** The last pass's results in `graft.Verify`'s layout: one parquet
    * directory per query plus `oracle_sql.json`, for `tools/check.py`. */
  private def writeVerifyLayout(spark: SparkSession, out: Path, mix: Seq[String],
      results: Map[String, (Array[Row], StructType)]): Unit = {
    Files.createDirectories(out)
    results.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.mode("overwrite")
        .parquet(out.resolve(name).toString)
    }
    val oracles = mix.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    Files.writeString(out.resolve("oracle_sql.json"), Json.writeValueAsString(oracles))
  }
}

/** Spark's whole-stage codegen compile time, from `CodegenMetrics`. Its
  * histogram keeps every sample until 1028 compiles, so the sum is exact
  * for a run's first 1028 compiles and an estimate (mean x count) after. */
object Codegen {
  def compileMs(): Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val s = h.getSnapshot
    if (h.getCount <= s.size()) s.getValues.map(_.toDouble).sum else s.getMean * h.getCount
  }
}

/** The largest heap occupancy after a collection since the last `take()`:
  * the heap pools' after-GC usage of every collection, from the JVM's GC
  * notifications, so memory held inside a pass and released before its
  * end shows too. */
final class HeapPeak {
  private val peak = new AtomicLong
  private val events = new AtomicLong
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(used, math.max(_, _))
      events.incrementAndGet()
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** (peak bytes, collections) since the last call; resets both. */
  def take(): (Long, Long) = (peak.getAndSet(0L), events.getAndSet(0L))
}
