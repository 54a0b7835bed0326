package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.config.Catalog
import graft.header.HeaderDetector
import graft.io.FileReader
import graft.pipeline.IngestPipeline
import graft.queries.{ReadQueries, Registry}
import graft.store.VersionStore

/** One benchmark run inside one JVM: set-up, the timed loop of a workload,
  * the correctness checks, and (traced runs) the per-layer split.
  *
  * Usage: PerfBench <workload> <plan.json> <workDir> <seconds> <trace 0|1> <out.json>
  *
  * The plan is written by `gen.py` from the workload seed; it names every
  * input file and the answer the program must give for it. The result file
  * lists every timed operation with its outcome; `run.py` turns it into the
  * reported metrics. */
object PerfBench {

  private val mapper = new ObjectMapper()
  val Cores = 4

  final case class Op(kind: String, name: String, seconds: Double, ok: Boolean,
                      traced: Boolean)

  final class Run(val spark: SparkSession, val plan: JsonNode, val work: String,
                  val seconds: Double, val trace: Boolean) {
    val ops = mutable.ArrayBuffer.empty[Op]
    val rounds = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val setups = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.ArrayBuffer.empty[String]
    val extra = mutable.LinkedHashMap.empty[String, Double]
    val tracer = new Tracer(spark, readLayers(plan.get("layers").asText))
    var tracing = false

    /** A span when this round is traced, a bare call otherwise. */
    def span[T](name: String, layer: String)(body: => T): T =
      if (tracing) tracer.span(name, layer)(body) else body

    /** Run `body` traced when `on`: the listeners are registered only for
      * its length, so untraced rounds carry no tracing cost at all. */
    def traced[T](on: Boolean)(body: => T): T =
      if (!on) body
      else {
        tracer.start()
        tracing = true
        try body finally { tracing = false; tracer.stop() }
      }

    def fail(what: String): Boolean = { errors += what.take(400); false }

    /** Run `body` as a timed operation; a throw or a wrong answer is a
      * failed operation and its time is never reported as a success. */
    def op(kind: String, name: String, layer: String)(body: => Boolean): Boolean = {
      val t = System.nanoTime()
      val ok = try span(kind, layer)(body)
      catch { case e: Throwable => fail(s"$kind $name: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      ops += Op(kind, name, (System.nanoTime() - t) / 1e9, ok, tracing)
      ok
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, planPath, work, secs, trace, out) = args
    val plan = mapper.readTree(new File(planPath))
    val spark = graft.Sessions.local(defaultCpus = Cores)
    Registry.configure(spark)
    val run = new Run(spark, plan, work, secs.toDouble, trace == "1")
    workload match {
      case "ingest" => Ingest(run)
      case "serve" => Serve(run)
      case "registry" => RegistryRun(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val layers = if (run.trace) Layers(run) else ListMap.empty[String, Double]
    writeResult(run, layers, out)
    spark.stop()
  }

  /** Repeat `round` while another round as long as the last one still fits
    * in the run's seconds (at least once), so a workload whose rounds are
    * long against the seconds always runs the same number of them. A traced
    * run alternates untraced and traced rounds, at least three, so the
    * tracing overhead compares a traced round with untraced rounds on both
    * sides of it. */
  def rounds(run: Run)(round: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    var last = 0.0
    def fits = (System.nanoTime() - t0) / 1e9 + last <= run.seconds
    while (i < (if (run.trace) 3 else 1) || fits) {
      val traced = run.trace && i % 2 == 1
      val t = System.nanoTime()
      run.traced(traced)(round(i))
      last = (System.nanoTime() - t) / 1e9
      run.rounds += ((last, traced))
      i += 1
    }
  }

  def timed(body: => Unit): Double = {
    val t = System.nanoTime()
    body
    (System.nanoTime() - t) / 1e9
  }

  // ------------------------------------------------------------------ ingest

  final case class Upload(source: String, path: String, variant: Option[String],
                          headerRow: Int, dataRows: Long, processed: Long,
                          inserted: Long, invalid: Long, duplicates: Long)

  def uploads(release: JsonNode): Seq[Upload] =
    release.get("files").elements().asScala.map { f =>
      Upload(f.get("source").asText, f.get("path").asText,
        Option(f.get("variant")).filterNot(_.isNull).map(_.asText),
        f.get("header_row").asInt, f.get("data_rows").asLong,
        f.get("processed").asLong, f.get("inserted").asLong,
        f.get("invalid").asLong, f.get("duplicates").asLong)
    }.toSeq

  /** Upload a release through the two-step flow (validate, then ingest),
    * checking every report against the planted counts. */
  def uploadRelease(run: Run, store: VersionStore, release: JsonNode,
                    timedOps: Boolean): Boolean = {
    val spark = run.spark
    val label = release.get("label").asText
    val date = java.sql.Date.valueOf(release.get("effective_date").asText)
    uploads(release).map { u =>
      def body: Boolean = {
        val heap = u.path.endsWith(".xlsx") && run.tracing
        if (heap) resetHeapPeak()
        val rep = run.span("validateFile", "pipeline") {
          IngestPipeline.validateFile(spark, store, u.source, u.path, label, u.variant)
        }
        val res = run.span("ingestFile", "pipeline") {
          IngestPipeline.ingestFile(spark, store, u.source, u.path, label, date, u.variant)
        }
        if (heap) run.extra("io.peak_heap_mb") =
          run.extra.getOrElse("io.peak_heap_mb", 0.0) max heapPeakMb()
        val got = (rep.valid, rep.headerRowIndex, rep.dataRows, res.status,
          res.processed, res.inserted, res.invalid, res.duplicates)
        val want = (true, Some(u.headerRow), u.dataRows, "completed",
          u.processed, u.inserted, u.invalid, u.duplicates)
        got == want || run.fail(s"${u.path}: got $got want $want")
      }
      if (timedOps) run.op("file", u.path, "pipeline")(body) else body
    }.forall(identity)
  }

  /** After a release: the multi-part version has one part per file and the
    * current views return every inserted row. Untimed. */
  def checkRelease(run: Run, store: VersionStore, release: JsonNode): Boolean = {
    val ups = uploads(release)
    ups.groupBy(u => (u.source, u.variant)).forall { case ((source, variant), us) =>
      val table = Catalog(source).targetTable
      val rows = store.currentView(table, source, variant).count()
      val v = store.versions.filter(col("source_code") === source).collect()
      val parts = v.map(_.getAs[Int]("part_count")).toSeq
      val want = us.map(_.inserted).sum
      (rows == want && parts == Seq(us.size)) ||
        run.fail(s"$source: view rows $rows want $want, part_count $parts want ${us.size}")
    }
  }

  object Ingest {
    def apply(run: Run): Unit = {
      val plan = run.plan
      // Before set-up, untimed: a small release of the same shapes pays the
      // JVM and codegen warm-up. Set-up, three times: a fresh store and one
      // small CSV upload.
      run.extra("warmup_s") = timed {
        uploadRelease(run, new VersionStore(run.spark, s"${run.work}/warm"),
          plan.get("warmup"), timedOps = false) || run.fail("warm-up release failed")
      }
      (0 until 3).foreach { k =>
        run.setups += timed {
          uploadRelease(run, new VersionStore(run.spark, s"${run.work}/setup$k"),
            plan.get("setup"), timedOps = false) || run.fail("set-up upload failed")
        }
      }
      val release = plan.get("release")
      var lastStore = ""
      rounds(run) { i =>
        lastStore = s"${run.work}/round$i"
        val store = new VersionStore(run.spark, lastStore)
        val ok = uploadRelease(run, store, release, timedOps = true)
        val n = uploads(release).size
        if (!(ok && checkRelease(run, store, release))) {
          val last = run.ops.takeRight(n).map(_.copy(ok = false))
          run.ops.remove(run.ops.size - n, n)
          run.ops ++= last
        }
      }
      run.extra("rows_per_round") = uploads(release).map(_.dataRows).sum.toDouble
      val inBytes = uploads(release).map(u => new File(u.path).length).sum
      run.extra("store.bytes_per_input_byte") = dirBytes(lastStore).toDouble / inBytes
      if (run.trace) Probe(run)
    }
  }

  // ------------------------------------------------------------------- serve

  object Serve {
    def apply(run: Run): Unit = {
      val plan = run.plan
      val cf = plan.get("conversion_factor").asDouble
      val reqs = plan.get("requests").elements().asScala.toIndexedSeq
      // Before set-up, untimed: the version history goes into the store
      // once, and one upload into a scratch store warms the update path.
      val root = s"${run.work}/store"
      run.extra("preload_s") = timed {
        val s0 = new VersionStore(run.spark, root)
        plan.get("history").elements().asScala.foreach(h => preload(run, s0, h))
      }
      uploadRelease(run, new VersionStore(run.spark, s"${run.work}/warm"),
        plan.get("warmup"), timedOps = false) || run.fail("warm-up upload failed")
      // Set-up, three times: open the store from disk and answer the first
      // block's lookups. Requests use the last opening.
      var store: VersionStore = null
      (0 until 3).foreach { _ =>
        run.setups += timed {
          store = new VersionStore(run.spark, root)
          reqs.takeWhile(_.get("kind").asText != "update")
            .foreach(r => request(run, store, r, cf, timed = false))
        }
      }
      val block = plan.get("update_every").asInt
      var next = 0
      rounds(run) { _ =>
        (0 until block).foreach { _ =>
          require(next < reqs.size, "request stream exhausted")
          request(run, store, reqs(next), cf, timed = true)
          next += 1
        }
      }
      if (run.trace) Probe(run)
    }

    /** One version of the history: the typed rows go through the store's
      * create / write / complete-and-mark-current sequence, as an ingest
      * lands them. */
    def preload(run: Run, store: VersionStore, h: JsonNode): Unit = {
      val source = Catalog(h.get("source").asText)
      val variant = Option(h.get("variant")).filterNot(_.isNull).map(_.asText)
      val path = h.get("path").asText
      val df = run.spark.read.parquet(path)
        .select(source.schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
      val id = store.createVersion(source.sourceCode, h.get("label").asText,
        java.sql.Date.valueOf(h.get("effective_date").asText), variant,
        VersionStore.sha256File(path), new File(path).getName)
      store.writeData(source.targetTable, id, df)
      store.completeVersion(id, h.get("rows").asLong,
        markCurrentFor = Some((source.sourceCode, variant)))
    }

    def request(run: Run, store: VersionStore, r: JsonNode, cf: Double,
                timed: Boolean): Boolean = {
      val spark = run.spark
      def op(kind: String, name: String, layer: String)(body: => Boolean): Boolean =
        if (timed) run.op(kind, name, layer)(body)
        else body || run.fail(s"warm-up $kind $name")
      r.get("kind").asText match {
        case "update" => op("update", r.get("path").asText, "pipeline") {
          val path = r.get("path").asText
          val label = r.get("label").asText
          val rep = run.span("validateFile", "pipeline") {
            IngestPipeline.validateFile(spark, store, "PFS_GPCI", path, label)
          }
          val res = run.span("ingestFile", "pipeline") {
            IngestPipeline.ingestFile(spark, store, "PFS_GPCI", path, label,
              java.sql.Date.valueOf(r.get("effective_date").asText))
          }
          val current = store.currentVersionIds("PFS_GPCI", None)
          (rep.valid && res.status == "completed" &&
            res.inserted == r.get("inserted").asLong && current == Seq(res.versionId)) ||
            run.fail(s"update $label: valid=${rep.valid} $res current=$current")
        }
        case "fee" => op("lookup", "fee", "queries") {
          val df = run.span("build", "queries") {
            val rvu = run.span("currentView", "store")(store.currentView("cms.pfs_rvu", "PFS_RVU"))
            val gpci = run.span("currentView", "store")(store.currentView("cms.pfs_gpci", "PFS_GPCI"))
            ReadQueries.feeFor(rvu, gpci, r.get("hcpcs").asText, r.get("locality").asText,
              conversionFactor = Some(cf), modifier = Some(r.get("modifier").asText))
          }
          val rows = run.span("action", "queries")(df.collect())
          val got = rows.map(x => Seq(x.getDecimal(2).doubleValue, x.getDecimal(3).doubleValue)).toSeq
          val want = Seq(r.get("expect").elements().asScala.map(_.asDouble).toSeq)
          got == want || run.fail(s"fee ${r.get("hcpcs").asText}/${r.get("locality").asText}: $got want $want")
        }
        case "ptp" => op("lookup", "ptp", "queries") {
          val df = run.span("build", "queries") {
            run.span("currentView", "store")(
              store.currentView("cms.ncci_ptp", "NCCI_PTP", Some("PRACTITIONER")))
              .filter(col("comprehensive_code") === r.get("col1").asText &&
                col("component_code") === r.get("col2").asText && col("deletion_date").isNull)
              .select("modifier_indicator")
          }
          val got = run.span("action", "queries")(df.collect()).map(_.getLong(0)).toSeq
          val e = r.get("expect")
          val want = if (e.isNull) Seq.empty else Seq(e.asLong)
          got == want || run.fail(s"ptp ${r.get("col1").asText}/${r.get("col2").asText}: $got want $want")
        }
        case "mue" => op("lookup", "mue", "queries") {
          val df = run.span("build", "queries") {
            run.span("currentView", "store")(store.currentView("cms.ncci_mue", "NCCI_MUE_PRAC"))
              .filter(col("hcpcs_code") === r.get("hcpcs").asText).select("mue_value")
          }
          val got = run.span("action", "queries")(df.collect()).map(_.getLong(0)).toSeq
          got == Seq(r.get("expect").asLong) ||
            run.fail(s"mue ${r.get("hcpcs").asText}: $got want ${r.get("expect")}")
        }
      }
    }
  }

  // ---------------------------------------------------------------- registry

  object RegistryRun {
    def apply(run: Run): Unit = {
      val spark = run.spark
      val dir = run.plan.get("tables").asText
      val tables = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")
      // Set-up, three times: a scan of every table.
      (0 until 3).foreach { _ =>
        run.setups += timed {
          tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").count())
        }
      }
      val exclude = run.plan.get("exclude").elements().asScala.map(_.asText).toSet
      val names = sample(run.plan.get("sample_seed").asLong,
        run.plan.get("sample_size").asInt, exclude)
      val results = s"${run.work}/results"
      val oracle = mapper.createObjectNode()
      names.foreach(n => oracle.put(n, Registry.oracleSql(n)))
      Files.writeString(Paths.get(s"$results.oracle.json"), mapper.writeValueAsString(oracle))
      // A warm-up pass over the sample (untimed; it also builds the store
      // behind the fee/PTP/MUE queries on first use), then the timed pass,
      // then in a traced run a traced pass. Every query is built and
      // collected with a clean cache, as graft.Bench does, except that the
      // client takes the answer rather than a count. The timed pass's
      // answers go to disk, untimed, for the oracle comparison.
      def pass(timedPass: Boolean, traced: Boolean): Unit = run.traced(traced) {
        var total = 0.0
        names.foreach { name =>
          val fn = Registry.queries(name)
          var df: DataFrame = null
          var rows: Array[org.apache.spark.sql.Row] = null
          def body: Boolean = {
            df = run.span("build", "queries")(fn(spark, dir))
            rows = run.span("action", "queries")(df.collect())
            true
          }
          if (timedPass) {
            run.op("query", name, "queries")(body)
            total += run.ops.last.seconds
          } else
            try body catch { case e: Throwable => run.fail(s"warm-up $name: ${e.getMessage}") }
          if (timedPass && !traced && rows != null)
            try spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
              .coalesce(1).write.mode("overwrite").parquet(s"$results/$name")
            catch { case e: Throwable => run.fail(s"write $name: ${e.getMessage}") }
          spark.catalog.clearCache()
        }
        if (timedPass) run.rounds += ((total, traced))
      }
      run.extra("warmup_s") = timed(pass(timedPass = false, traced = false))
      pass(timedPass = true, traced = false)
      if (run.trace) pass(timedPass = true, traced = true)
      run.extra("sample_size") = names.size.toDouble
      if (run.trace) Probe(run)
    }

    /** Family-stratified sample of `size` queries: each family gets its
      * share of the sample by largest remainder, and `seed` draws which of
      * its queries fill it. A family is the name's first token (`q_llm_…`, `q_graph_…`); SURVEY-numbered
      * names (`q_f1_…`) form one. Queries without an oracle, and those in
      * `exclude`, are left out. */
    def sample(seed: Long, size: Int, exclude: Set[String]): Seq[String] = {
      val eligible = Registry.queries.keys
        .filter(n => Registry.oracleSql.contains(n) && !exclude(n)).toSeq
      val fams = eligible.groupBy(family).toSeq.sortBy(_._1)
      val quota = fams.map { case (_, qs) => qs.size.toDouble * size / eligible.size }
      val base = quota.map(_.toInt).toArray
      quota.zipWithIndex.sortBy { case (q, i) => (-(q - q.toInt), i) }
        .take(size - base.sum).foreach { case (_, i) => base(i) += 1 }
      val rng = new scala.util.Random(seed)
      fams.zip(base).flatMap { case ((_, qs), n) => rng.shuffle(qs.sorted).take(n) }
    }

    def family(name: String): String = {
      val tok = name.stripPrefix("q_").takeWhile(_ != '_')
      if (tok.exists(_.isDigit)) "survey" else tok
    }
  }

  // ------------------------------------------------------------------ probes

  /** Standalone calls into io and header (traced runs only), plus one small
    * upload and lookup, so every layer has a figure on every workload. */
  object Probe {
    def apply(run: Run): Unit = {
      val spark = run.spark
      val p = run.plan.get("probe")
      val path = p.get("path").asText
      val source = Catalog(p.get("source").asText)
      run.traced(on = true)(run.span("probe", "io") {
        resetHeapPeak()
        val head = run.span("parseFile", "io") {
          val (raw, _) = FileReader.parseFile(spark, path)
          FileReader.firstRows(raw, HeaderDetector.MaxScanRows)
        }
        run.extra("io.peak_heap_mb") = run.extra.getOrElse("io.peak_heap_mb", 0.0) max heapPeakMb()
        val mappings = ListMap(source.columns.collect {
          case c if c.acceptedHeaders.nonEmpty =>
            c.internalName -> HeaderDetector.ColumnMapping(c.acceptedHeaders, c.isRequired)
        }: _*)
        val det = run.span("detectHeader", "header")(HeaderDetector.detectHeaderRow(head, mappings))
        if (!det.found) run.fail(s"probe header not found in $path")
        val root = s"${run.work}/probe"
        val store = new VersionStore(spark, root)
        uploadRelease(run, store, p.get("release"), timedOps = false) || run.fail("probe upload")
        val df = run.span("build", "queries") {
          run.span("currentView", "store")(store.currentView(source.targetTable, source.sourceCode))
            .filter(col("hcpcs_code").isNotNull)
        }
        run.span("action", "queries")(df.count())
        if (!run.extra.contains("store.bytes_per_input_byte"))
          run.extra("store.bytes_per_input_byte") = dirBytes(root).toDouble / new File(path).length
      })
    }
  }

  // ------------------------------------------------------------- the layers

  /** Per-layer figures from the traced spans. Each is a mean per occurrence
    * (per file, per view, per operation) unless its name says otherwise.
    * Layers a workload does not reach take their figure from the probe. */
  object Layers {
    def apply(run: Run): ListMap[String, Double] = {
      val t = run.tracer
      t.drain()
      val spans = t.spans.toSeq
      def named(n: String) = {
        val (work, probe) = spans.filter(_.name == n).partition(s => !underProbe(t, s))
        if (work.nonEmpty) work else probe
      }
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      def jobTime(js: Seq[Tracer.Job]) = Tracer.unionMs(js.map(j => (j.start, j.end))) / 1e3
      def layered(s: Tracer.Span) = t.jobsUnder(s).map(j => j -> t.layerOf(j, s.layer))
      def ofLayer(s: Tracer.Span, l: String) = layered(s).collect { case (j, `l`) => j }

      val ingests = named("ingestFile")
      val fileSpans = named("validateFile") ++ ingests
      val ops = spans.filter(s => s.parent == -1 && s.name != "probe")
      val opSpans = if (ops.nonEmpty) ops else spans.filter(_.name == "probe")
      val actions = named("action")
      val opJobs = opSpans.map(t.jobsUnder)

      val parseProbe = spans.filter(_.name == "parseFile").map(_.seconds)
      val ioPerFile = fileSpans.map(s => jobTime(ofLayer(s, "io"))) ++ parseProbe
      val metaJobs = ingests.map(s => ofLayer(s, "store.meta"))
      val actionStats = actions.map { a =>
        val acts = t.actionsIn(a)
        val js = t.jobsUnder(a)
        (acts.map(_.planMs / 1e3).sum, acts.map(_.execSeconds).sum,
          if (js.isEmpty) 0.0 else js.map(_.taskWall).max / 1e3 / math.max(a.seconds, 1e-3))
      }
      val untracedRounds = run.rounds.filterNot(_._2).map(_._1).toSeq
      val tracedRounds = run.rounds.filter(_._2).map(_._1).toSeq

      ListMap(
        "io.parse_s" -> mean(ioPerFile),
        "io.peak_heap_mb" -> run.extra.getOrElse("io.peak_heap_mb", 0.0),
        "header.detect_s" -> mean(named("detectHeader").map(_.seconds)),
        "pipeline.validate_s" -> mean(named("validateFile").map(_.seconds)),
        "pipeline.checkpoint_s" -> mean(ingests.map(s => jobTime(ofLayer(s, "pipeline.checkpoint")))),
        "pipeline.count_s" -> mean(ingests.map(s => jobTime(ofLayer(s, "pipeline")))),
        "pipeline.jobs_per_file" -> mean(ingests.map(s => t.jobsUnder(s).size.toDouble)),
        "store.write_s" -> mean(ingests.map(s => jobTime(ofLayer(s, "store.write")))),
        "store.meta_commit_s" -> mean(metaJobs.map(jobTime)),
        "store.meta_writes_per_file" -> mean(metaJobs.map(_.count(_.site.startsWith("parquet at")).toDouble)),
        "store.view_s" -> mean(named("currentView").map(_.seconds)),
        "store.view_jobs" -> mean(named("currentView").map(s => t.jobsUnder(s).size.toDouble)),
        "store.bytes_per_input_byte" -> run.extra.getOrElse("store.bytes_per_input_byte", 0.0),
        "queries.build_s" -> mean(named("build").map(_.seconds)),
        "queries.build_jobs" -> mean(named("build").map(s => t.jobsUnder(s).size.toDouble)),
        "queries.plan_s" -> mean(actionStats.map(_._1)),
        "queries.exec_s" -> mean(actionStats.map(_._2)),
        "operators.max_task_share" -> mean(actionStats.map(_._3)),
        "operators.shuffle_bytes" -> mean(opJobs.map(_.map(_.shuffleBytes).sum.toDouble)),
        "operators.spill_bytes" -> mean(opJobs.map(_.map(_.spillBytes).sum.toDouble)),
        "operators.peak_exec_mem_mb" -> mean(opJobs.map(js =>
          (0L +: js.map(_.peakMem)).max / 1048576.0)),
        "exec.jobs" -> mean(opJobs.map(_.size.toDouble)),
        "exec.stages" -> mean(opJobs.map(_.map(_.stages).sum.toDouble)),
        "exec.tasks" -> mean(opJobs.map(_.map(_.tasks).sum.toDouble)),
        "exec.core_util" -> opJobs.map(_.map(_.runMs).sum).sum / 1e3 /
          math.max(opSpans.map(_.seconds).sum * Cores, 1e-9),
        "exec.gc_s" -> mean(opJobs.map(_.map(_.gcMs).sum / 1e3)),
        "trace.overhead_s" -> (median(tracedRounds) - median(untracedRounds)),
        "trace.misattributed" -> spans.count(t.misattributed).toDouble,
      )
    }

    private def underProbe(t: Tracer, s: Tracer.Span): Boolean = {
      var cur = s
      while (cur.parent >= 0) cur = t.spans(cur.parent)
      cur.name == "probe"
    }
  }

  // ----------------------------------------------------------------- helpers

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The old generation: what a file's parse keeps alive long enough to be
    * promoted, rather than the young garbage every parse makes. */
  private def oldGen =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.getName.contains("Old"))

  def resetHeapPeak(): Unit = oldGen.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = oldGen.map(_.getPeakUsage.getUsed).sum / 1048576.0

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  /** `file -> layer` lines written by the build from the program's source
    * tree (a file's layer is its package directory). */
  def readLayers(path: String): Map[String, String] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.contains("\t")).map { l =>
      val Array(f, layer) = l.split("\t", 2)
      f -> layer
    }.toMap

  def writeResult(run: Run, layers: ListMap[String, Double], out: String): Unit = {
    val o: ObjectNode = mapper.createObjectNode()
    val setups = o.putArray("setup_s")
    run.setups.foreach(x => setups.add(x))
    val rs = o.putArray("rounds")
    run.rounds.foreach { case (s, traced) => rs.addObject().put("s", s).put("traced", traced) }
    val ops = o.putArray("ops")
    run.ops.foreach { x =>
      ops.addObject().put("kind", x.kind).put("name", x.name).put("s", x.seconds)
        .put("ok", x.ok).put("traced", x.traced)
    }
    val errs = o.putArray("errors")
    run.errors.foreach(e => errs.add(e))
    val ex = o.putObject("extra")
    run.extra.foreach { case (k, v) => ex.put(k, v) }
    val ly = o.putObject("layers")
    layers.foreach { case (k, v) => ly.put(k, v) }
    o.put("jvm", System.getProperty("java.version"))
    o.put("spark", run.spark.version)
    Files.writeString(Paths.get(out), mapper.writeValueAsString(o))
  }
}
