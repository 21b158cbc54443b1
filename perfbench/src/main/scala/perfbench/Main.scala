package perfbench

import graft.importer.{Cleanse, Enrich, ImportConfig, Importer}
import graft.{Engine, SparkEntry}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark JVM: times calls into the program's public functions from
  * outside and writes the raw figures to `<work>/result.json` (and, traced,
  * the spans to `<work>/trace.json`) for `run.py` to check and report.
  *
  * Usage: perfbench.Main key=value... with keys workload, seconds, trace,
  * cpus, sf, work, and per workload either src/schema/expect (import_tweets) or
  * queries/standing (query_mix).
  */
object Main {
  // set once the bench lock is held: waiting for another harness is not set-up
  private var t0 = System.nanoTime()
  private def now: Double = (System.nanoTime() - t0) / 1e9
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def processCpuS: Double = os.getProcessCpuTime / 1e9
  // the JIT compiler threads' CPU seconds (run.py starts the JVM with a fixed
  // set of them, so none exits and takes its count along)
  private val hotspot = sun.management.ManagementFactoryHelper.getHotspotThreadMBean
  private def jitCpuS: Double = hotspot.getInternalThreadCpuTimes.asScala
    .collect { case (name, ns) if name.contains("CompilerThread") => ns.longValue }.sum / 1e9
  /** The program's CPU seconds: the process's less the JIT's. Compilation runs
    * on idle cores beside the program, and how much of it falls in a timed
    * call depends on how far the JVM has warmed up (and how busy the host
    * is), not on the work the call does.
    */
  private def cpuS: Double = processCpuS - jitCpuS

  private final class Timed(val wall: Double, val cpu: Double)
  private def timed(body: => Unit): Timed = {
    val (c0, w0) = (cpuS, System.nanoTime())
    body
    new Timed((System.nanoTime() - w0) / 1e9, cpuS - c0)
  }

  def main(args: Array[String]): Unit = graft.tools.BenchLock.exclusiveWait("perfbench") {
    t0 = System.nanoTime()
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val work = a("work")
    new File(work).mkdirs()
    val tracer = new Tracer(a("trace") == "1")
    val out = mutable.LinkedHashMap.empty[String, Any]
    val failures = mutable.ArrayBuffer.empty[String]
    val cpus = a("cpus")
    val (spark, sessionS) = {
      val w0 = System.nanoTime()
      val s = tracer("engine.session") {
        Engine.session("perfbench", s"local[$cpus]", Some(cpus))
      }
      (s, (System.nanoTime() - w0) / 1e9)
    }
    spark.sparkContext.setLogLevel("WARN")
    out("engine.session_s") = sessionS
    val run = new Run(spark, a, tracer, out, failures)
    if (a("workload") == "query_mix") run.queryMix() else run.importer()
    out("peak_rss_mb") = vmHwmMb()
    out("jvm.gc_s") = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
    out("jvm.jit_s") = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    out("process_cpu_s") = processCpuS
    out("jit_cpu_s") = jitCpuS
    out("wall_s") = now
    out("failures") = failures.toSeq
    if (tracer.enabled) Files.writeString(Paths.get(work, "trace.json"), Json(tracer.toJson))
    Files.writeString(Paths.get(work, "result.json"), Json(out))
    spark.stop()
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private final class Run(spark: SparkSession, a: Map[String, String], tracer: Tracer,
                          out: mutable.LinkedHashMap[String, Any],
                          failures: mutable.ArrayBuffer[String]) {
    private implicit val s: SparkSession = spark
    private val seconds = a("seconds").toDouble
    private val traced = tracer.enabled
    private var listener: LayerListener = _

    private def inGroup[T](group: String)(body: => T): T = {
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = true)
      if (listener != null) listener.currentGroup = group
      try tracer(group)(body) finally spark.sparkContext.clearJobGroup()
    }

    private def attach(): Unit = {
      listener = new LayerListener
      spark.sparkContext.addSparkListener(listener)
      spark.streams.addListener(listener.streaming)
    }

    /** Runs `pass` at least `min` times, then while the next one, taking as
      * long as the last, would end less than half of it past `budget`
      * seconds: a long pass is not started just before the budget runs out.
      */
    private def loop[T](budget: Double, min: Int)(pass: => T): Seq[T] = {
      val end = now + budget
      val res = mutable.ArrayBuffer.empty[T]
      var last = 0.0
      while (res.size < min || now + last / 2 < end) {
        val t0 = now
        res += pass
        last = now - t0
      }
      res.toSeq
    }

    /** The timed passes, untraced and traced. Untraced runs time `pass` only;
      * traced runs alternate the listener off and on from pass to pass, at
      * least `min` times each, so that the overhead estimate does not pick up
      * the JVM still warming up.
      */
    private def measure[T](min: Int)(pass: => T): (Seq[T], Seq[T]) =
      if (!traced) (loop(seconds, min)(pass), Nil)
      else {
        attach()
        val all = loop(seconds, 2 * min) {
          listener.active = !listener.active
          val r = pass
          drain()
          (listener.active, r)
        }
        listener.active = true
        (all.filterNot(_._1).map(_._2), all.filter(_._1).map(_._2))
      }

    // the readback pair is short: a few reads per import steady its median
    private val ReadbackReps = 3
    private val WarmImports = 3
    private val WarmReadbacks = 10

    private def drain(): Unit = Thread.sleep(500) // let the listener bus catch up

    // ---------------------------------------------------------------- imports

    private def conf(dest: String, bad: String): ImportConfig =
      ImportConfig(a("src"), dest, schemaFile = Some(a("schema")), badRowsDest = Some(bad),
        twitterCleanse = true, dateEnrich = Some("tweet_time"),
        arrayCols = Seq("hashtags", "urls", "user_mentions"), sortCols = Seq("tweet_time"))

    /** The fixed pair of reads over an import's output: a pruned range on the
      * sort column, then a full-scan aggregate.
      */
    private def readback(dest: String): Seq[Row] = {
      val df = spark.read.parquet(dest)
      df.filter(col("tweet_time").between("2015-03-01 00:00", "2015-03-31 23:59"))
        .agg(count(lit(1)), sum("like_count")).collect().toSeq ++
        df.groupBy("tweet_language")
          .agg(count(lit(1)), sum(size(col("hashtags_array"))), sum("follower_count"))
          .orderBy("tweet_language").collect()
    }

    private def rm(p: String): Unit = {
      val f = new File(p)
      if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
    }

    def importer(): Unit = {
      val work = a("work")
      val (dest, bad) = (s"$work/out", s"$work/bad")
      val expect = a("expect").toLong
      var reference: Seq[Row] = null

      def importOnce(): (Timed, Seq[Double]) = {
        rm(dest); rm(bad)
        System.gc()
        val t = timed(inGroup("importer.import")(Importer.readCsvWriteParquet(conf(dest, bad))))
        val n = spark.read.parquet(dest).count()
        if (n != expect) failures += s"import wrote $n rows, expected $expect"
        val rb = (1 to ReadbackReps).map { _ =>
          val w0 = System.nanoTime()
          val rows = inGroup("importer.readback")(readback(dest))
          if (reference == null) reference = rows
          else if (rows != reference) failures += "readback result differs between reads"
          (System.nanoTime() - w0) / 1e9
        }
        (t, rb)
      }

      // imports keep getting faster over the first few runs in a JVM (JIT),
      // the short readbacks for longer: untimed ones end the set-up
      tracer("setup.warmup") {
        val imports = (1 to WarmImports).map(i => s"import$i" -> importOnce()._1.wall)
        val reads = timed((1 to WarmReadbacks).foreach(_ => readback(dest))).wall
        out("warmup_s") = (imports :+ ("readbacks" -> reads)).toMap
      }
      out("setup_s") = now
      val (plain, tr) = measure(if (traced) 2 else 3)(importOnce())
      out("import_s") = plain.map(_._1.wall)
      out("import_cpu_s") = plain.map(_._1.cpu)
      out("readback_s") = plain.flatMap(_._2)
      out("attempted") = WarmImports + plain.size + tr.size
      accounting(dest, bad)
      if (traced) {
        out("tracing.overhead_frac") =
          LayerListener.median(tr.map(_._1.wall)) / LayerListener.median(plain.map(_._1.wall)) - 1
        tracedImport(dest, bad)
        out("attempted") = WarmImports + plain.size + tr.size + 1
      }
    }

    /** Row accounting from the program's own functions, untimed: the rows
      * `readCsv` parses and the rows `twitterCleanse` drops from its clean
      * side. run.py checks them against the written and quarantined output.
      */
    private def accounting(dest: String, bad: String): Unit = {
      val raw = Importer.readCsv(conf(dest, bad)).cache()
      val clean = raw.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
      out("read_rows") = raw.count()
      out("cleansed_rows") = clean.count() - Cleanse.twitterCleanse(clean).count()
      raw.unpersist()
    }

    /** Layer split of one import: successive prefixes materialized to `noop`,
      * then the full import under its own job group (`importer.layers`), its
      * stages split into quarantine, map + shuffle write, and shuffle read +
      * sort + write.
      */
    private def tracedImport(dest: String, bad: String): Unit = {
      val c = conf(dest, bad)
      // one materialization is too noisy for a difference of two: the median
      // of three; listener figures are from the last, run under `group`
      def noop(group: String, df: DataFrame): (Double, Long) = {
        val runs = (1 to 3).map { i =>
          val o = Observation(s"$group$i")
          val w0 = System.nanoTime()
          inGroup(if (i == 3) group else s"$group~$i") {
            df.observe(o, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
          }
          ((System.nanoTime() - w0) / 1e9, o.get("n").asInstanceOf[Long])
        }
        (LayerListener.median(runs.map(_._1)), runs.last._2)
      }
      val raw = Importer.readCsv(c)
      val (readS, readRows) = noop("importer.read", raw)
      val clean = raw.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
      val cleansed = Cleanse.twitterCleanse(clean)
      val (cleanseS, cleanseRows) = noop("importer.cleanse", cleansed)
      var enriched = Enrich.dateEnrich(c.dateEnrich.get, cleansed)
      c.arrayCols.foreach(col => enriched = Enrich.parseAndAppendArrayCol(col, enriched))
      val (enrichS, _) = noop("importer.enrich", enriched)

      rm(dest); rm(bad)
      inGroup("importer.layers")(Importer.readCsvWriteParquet(c))
      drain()
      val l = listener
      val read = l.stagesOf(_ == "importer.read")
      val quarantineRows = spark.read.text(bad).count()
      out("importer.read.s") = readS
      out("importer.read.rows_in") = read.map(_.inputRows).sum
      out("importer.read.rows_out") = readRows
      out("importer.read.tasks") = read.map(_.tasks).sum
      out("importer.read.cpu_s") = read.map(_.cpuNs).sum / 1e9
      out("importer.cleanse.s") = cleanseS - readS
      out("importer.cleanse.rows_dropped") = readRows - quarantineRows - cleanseRows
      out("importer.cleanse.shuffle_bytes") = l.stagesOf(_ == "importer.cleanse").map(_.shuffleWriteBytes).sum
      out("importer.enrich.s") = enrichS - cleanseS

      val full = l.stagesOf(_ == "importer.layers")
      val (quarantine, rest) = full.partition(st => st.shuffleReadBytes == 0 && st.outputBytes > 0)
      val (write, map) = rest.partition(_.outputBytes > 0)
      out("importer.quarantine.s") = quarantine.map(_.wallMs).sum / 1e3
      out("importer.quarantine.rows") = quarantineRows
      out("importer.quarantine.cached_bytes") = l.cachedBytes("importer.layers")
      val taskS = write.flatMap(_.taskMs).map(_ / 1e3)
      val files = Files.walk(Paths.get(dest)).iterator().asScala.map(_.toFile)
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
      out("importer.write.map_s") = map.map(_.wallMs).sum / 1e3
      out("importer.write.s") = write.map(_.wallMs).sum / 1e3
      out("importer.write.tasks") = write.map(_.tasks).sum
      out("importer.write.task_max_s") = if (taskS.isEmpty) 0.0 else taskS.max
      out("importer.write.task_p50_s") = LayerListener.median(taskS)
      out("importer.write.shuffle_bytes") = write.map(_.shuffleReadBytes).sum
      out("importer.write.spill_bytes") = full.map(_.spillBytes).sum
      out("importer.write.files") = files.size
      out("importer.write.bytes_out") = files.map(_.length).sum
      out("importer.write.rows_out") = write.map(_.outputRows).sum
    }

    // -------------------------------------------------------------- query mix

    private val families: Map[String, Set[String]] = {
      import graft.operators._
      Seq("Relational" -> Relational.queries, "Events" -> Events.queries, "Text" -> Text.queries,
        "Similarity" -> Similarity.queries, "NorthStar" -> NorthStar.queries,
        "Extras" -> Extras.queries, "Graph" -> Graph.queries, "Stats" -> Stats.queries,
        "Layout" -> Layout.queries, "Evaluation" -> Evaluation.queries,
        "streaming" -> graft.streaming.Windows.queries)
        .map { case (f, qs) => f -> qs.keySet }.toMap
    }
    private def familyOf(q: String): String = families.collectFirst { case (f, qs) if qs(q) => f }.get

    def queryMix(): Unit = {
      val sf = a("sf")
      val names = a("queries").split(",").toSeq
      val standing = a("standing").split(",").filter(_.nonEmpty).toSeq
      tracer("tables.openCatalog")(out("tables.catalog_s") = timed(Engine.openCatalog(spark, sf)).wall)
      val builds = graft.operators.Standing.builds.toMap
      val standingS = standing.map { n =>
        n -> timed(inGroup(s"standing.$n")(builds(n)(spark, sf))).wall
      }
      out("standing.build_s") = standingS.map(_._2).sum
      standingS.foreach { case (n, t) => out(s"standing.${n.stripPrefix("standing_")}_s") = t }
      out("standing.cached_bytes") = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      // untimed warm-up pass: each result is kept for the oracle check
      val dump = s"${a("work")}/results"
      out("warmup_s") = names.map { q =>
        val w0 = System.nanoTime()
        try tracer(s"warmup:$q") {
          SparkEntry.queries(q)(spark, sf).coalesce(1).write.mode("overwrite").parquet(s"$dump/$q")
        } catch { case e: Throwable => failures += s"$q warm-up failed: ${e.getMessage}" }
        q -> (System.nanoTime() - w0) / 1e9
      }.toMap
      Files.writeString(Paths.get(dump, "oracle_sql.json"),
        Json(names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))

      // a pass is the sum of its query executions; each starts on a collected
      // heap, and the collection is not timed
      def pass(): (Timed, Seq[(String, Double)]) = {
        val runs = names.map { q =>
          System.gc()
          q -> timed {
            try inGroup(s"q:$q") {
              val df = tracer("call")(SparkEntry.queries(q)(spark, sf))
              tracer("noop")(df.write.format("noop").mode("overwrite").save())
            } catch { case e: Throwable => failures += s"$q failed: ${e.getMessage}" }
          }
        }
        (new Timed(runs.map(_._2.wall).sum, runs.map(_._2.cpu).sum), runs.map { case (q, t) => q -> t.wall })
      }

      out("setup_s") = now
      val (plain, tr) = measure(1)(pass())
      out("mix_s") = plain.map(_._1.wall)
      out("mix_cpu_s") = plain.map(_._1.cpu)
      out("query_s") = plain.flatMap(_._2).groupMap(_._1)(_._2)
      out("attempted") = (plain.size + tr.size) * names.size
      if (traced) {
        out("tracing.overhead_frac") =
          LayerListener.median(tr.map(_._1.wall)) / LayerListener.median(plain.map(_._1.wall)) - 1
        layersOfMix(names, tr.map(_._2), tr.size)
      }
    }

    private def layersOfMix(names: Seq[String], lat: Seq[Seq[(String, Double)]], passes: Int): Unit = {
      val l = listener
      val opFamilies = families.keys.filter(_ != "streaming").toSeq.sorted
      def stagesOfFamily(f: String) = l.stagesOf(g => g.startsWith("q:") && familyOf(g.drop(2)) == f)
      opFamilies.foreach { f =>
        val st = stagesOfFamily(f)
        val p = s"ops.$f"
        out(s"$p.exec_s") = lat.flatten.filter(x => familyOf(x._1) == f).map(_._2).sum / passes
        out(s"$p.cpu_s") = st.map(_.cpuNs).sum / 1e9 / passes
        out(s"$p.shuffle_bytes") = st.map(_.shuffleWriteBytes).sum.toDouble / passes
        out(s"$p.spill_bytes") = st.map(_.spillBytes).sum.toDouble / passes
        out(s"$p.task_skew") = (st.filter(_.tasks >= 2).map { s =>
          s.taskMs.max.toDouble / math.max(1.0, LayerListener.median(s.taskMs.map(_.toDouble)))
        } :+ 0.0).max
        out(s"$p.narrow_hot_stages") = st.count(s => s.tasks <= 2 && s.wallMs >= 300).toDouble / passes
      }
      val streams = l.streamsOf(g => g.startsWith("q:") && familyOf(g.drop(2)) == "streaming")
      val batchMs = streams.flatMap(_.batches.map(_._2.toDouble))
      out("streaming.call_s") = lat.flatten.filter(x => familyOf(x._1) == "streaming").map(_._2).sum / passes
      out("streaming.startup_s") = LayerListener.median(
        streams.filter(_.batches.nonEmpty).map(s => (s.batches.map(_._1).min - s.started) / 1e3))
      out("streaming.batches") = batchMs.size.toDouble / passes
      out("streaming.batch_ms_p50") = LayerListener.median(batchMs)
      out("streaming.state_rows") = streams.map(_.stateRows).sum.toDouble / passes
    }
  }
}

/** Minimal JSON writer for the result and trace files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
  }
}
