package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.Extract
import graft.spark.{CleanJob, ExtractJob, PagesTable, SnapshotStore}

/** Pinned check values of one input window, and the failure tally. */
final class Checks(expected: Map[String, String], problem: Option[String]) {
  var attempted = 0L
  var failed = 0L
  val messages: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.from(problem)

  def count(attempts: Long, failures: Long, what: => String): Unit = {
    attempted += attempts
    failed += failures
    if (failures > 0) messages += s"$what: $failures of $attempts failed"
  }

  /** One attempt that fails unless every (key, actual) equals its pin. */
  def expect(what: String, values: Seq[(String, Any)]): Unit = {
    val bad = values.filter { case (k, v) => !expected.get(k).contains(v.toString) }
    count(1, if (bad.isEmpty) 0 else 1,
      s"$what: " + bad.map { case (k, v) =>
        s"$k=$v, pinned ${expected.getOrElse(k, "nothing")}" }.mkString("; "))
  }

  def correct: Boolean = failed == 0 && messages.isEmpty
}

object Pins {
  /** Loads the pins of one window; pins made for another workload config
    * are refused, since every value would be compared against other inputs. */
  def load(path: String, workload: String, window: Int,
      config: Map[String, Any]): Checks = {
    val file = new java.io.File(path, s"$workload.json")
    if (!file.exists()) return new Checks(Map.empty, Some(s"no pin file $file"))
    val root = Main.json.readTree(file)
    val cfg = Main.json.writeValueAsString(config)
    if (Main.json.readTree(cfg) != root.get("config"))
      return new Checks(Map.empty,
        Some(s"pins were made for ${root.get("config")}, this run uses $cfg"))
    val w = root.get("windows").get(window.toString)
    if (w == null) return new Checks(Map.empty, Some(s"no pins for window $window"))
    import scala.jdk.CollectionConverters._
    new Checks(w.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap, None)
  }
}

/** One workload: seeded inputs, a warm pass, the timed pass, its checks. */
abstract class Workload(val spark: SparkSession) {
  /** Work items (documents or queries) per timed pass. */
  def items: Long
  /** Sizes the pins depend on. */
  def config: Map[String, Any]
  /** Whether the seed selects the inputs (else they are fixed). */
  def seeded: Boolean = true
  /** Writes the seeded inputs of the timed passes under `dir`. */
  def materialise(dir: String): Unit
  /** JIT and codegen warm-up: generates an input of its own under `dir` and
    * runs the workload's job on it. */
  def warm(dir: String): Unit
  /** The timed region: one run of the workload's job over `inputs`. */
  def pass(i: Int, inputs: String, out: String, probe: Option[SparkProbe],
      tracer: Tracer, attrs: mutable.LinkedHashMap[String, Any]): Unit
  /** Untimed checks of pass `i`, whose outputs are under `out`. */
  def afterPass(i: Int, out: String, checks: Checks): Unit
  /** Untimed checks after the last pass, whose outputs are under `lastOut`. */
  def finalChecks(inputs: String, lastOut: String, checks: Checks,
      tracer: Tracer): Unit = ()
  /** Check values of one untimed pass over freshly materialised inputs. */
  def pinValues(dir: String): Map[String, Any]
  /** Workload-specific per-layer metrics, as means per traced pass. */
  def perLayer(itemsPerS: Double, c: SparkProbe.Counters, n: Double): Seq[(String, Double)]
  /** End-to-end figures printed beside the metrics. */
  def extraReport(wallS: Double): Seq[(String, Double, String)]
}

/** `ExtractJob.run` over a materialised `PagesTable` corpus (all 13 cycled
  * families, generator seed = window) into a fresh `SnapshotStore`. */
final class ExtractWorkload(spark0: SparkSession, window: Int) extends Workload(spark0) {
  import ExtractWorkload._
  import spark.implicits._

  private val partitions = Main.nproc * 4
  private val genSeed = window.toLong
  val items: Long = Docs
  val config: Map[String, Any] = Map("docs" -> Docs, "sample_docs" -> SampleDocs)

  private def pages(dir: String): Dataset[PagesTable.PageRow] =
    spark.read.parquet(dir).as[PagesTable.PageRow]

  def materialise(dir: String): Unit =
    PagesTable.generate(spark, Docs, genSeed, partitions).write.parquet(s"$dir/corpus")

  /** Extraction reaches steady speed only after tens of thousands of
    * documents have been through the JIT, hence several full-size passes. */
  def warm(dir: String): Unit = {
    PagesTable.generate(spark, Docs, genSeed + Main.Windows, partitions)
      .write.parquet(s"$dir/corpus")
    (0 until WarmPasses).foreach { i =>
      ExtractJob.run(spark, pages(s"$dir/corpus"), new SnapshotStore(s"$dir/store$i"),
        s"warm$i", partitions)
    }
  }

  private val returned = mutable.HashMap.empty[Int, Long]
  private var passStartMs = 0L
  private var passEndMs = 0L
  private var passProbe: Option[SparkProbe] = None
  private val mapS, skew, commitS, files, mb = mutable.ArrayBuffer.empty[Double]
  /** (timing replay, allocation replay) of a traced run. */
  private var replay: Option[(CoreReplay, CoreReplay)] = None

  def pass(i: Int, inputs: String, out: String, probe: Option[SparkProbe],
      tracer: Tracer, attrs: mutable.LinkedHashMap[String, Any]): Unit = {
    passProbe = probe
    passStartMs = System.currentTimeMillis()
    returned(i) = tracer.span("ExtractJob.run") { a =>
      val before = probe.map(_.snapshot(spark))
      val n = ExtractJob.run(spark, pages(s"$inputs/corpus"),
        new SnapshotStore(s"$out/store"), s"pass$i", partitions)
      passEndMs = System.currentTimeMillis()
      for (p <- probe; b <- before) a ++= (p.snapshot(spark) - b).attrs
      n
    }
  }

  def afterPass(i: Int, out: String, checks: Checks): Unit = {
    val store = new SnapshotStore(s"$out/store")
    val table = store.read(spark)
    val rows = table.map(_.count()).getOrElse(0L)
    val ok = table.map(_.filter(col("parse_status") === "ok").count()).getOrElse(0L)
    checks.count(Docs, math.max(Docs - ok, 0L), s"pass $i: docs not ok or not committed")
    if (rows != Docs) checks.count(1, 1, s"pass $i: $rows rows committed for $Docs docs")
    if (returned(i) != Docs)
      checks.count(1, 1, s"pass $i: ExtractJob.run returned ${returned(i)} of $Docs")
    passProbe.foreach { p =>
      p.heaviestStage(passStartMs).foreach { case (m, s, lastTaskMs) =>
        mapS += m; skew += s; commitS += (passEndMs - lastTaskMs) / 1e3
      }
      files += store.currentFiles.length
      mb += store.currentFiles.map(f => new java.io.File(f).length).sum / 1048576.0
    }
  }

  private def checksum(table: DataFrame): String = {
    val h = xxhash64(OutputCols.map(col): _*)
    val r = table.agg(count(lit(1)), sum(h.bitwiseAND(0xffffffffL)),
      sum(shiftrightunsigned(h, 32))).head()
    s"${r.getLong(0)}:${r.getLong(1).toHexString}:${r.getLong(2).toHexString}"
  }

  private def sample(n: Int): Seq[PagesTable.PageRow] =
    (0 until n).map(i => PagesTable.genDoc(i.toLong, genSeed))

  /** Committed rows must equal `Extract.extractDocument` on the same input. */
  private def sampleMismatches(table: DataFrame): Long = {
    val docs = sample(SampleDocs)
    val byUrl = table.filter(col("url").isin(docs.map(_.url): _*))
      .select(OutputCols.map(col): _*).collect().map(r => r.getString(0) -> r).toMap
    docs.count { d =>
      val e = Extract.extractDocument(d.url, d.html)
      !byUrl.get(d.url).exists(_.toSeq == Seq(e.url, e.extractedText, e.markdown,
        e.blocksJson, e.nPages, e.nBlocks, e.nElements, e.nLines, e.needOcrPages,
        e.parseStatus, e.errorClass))
    }.toLong
  }

  override def finalChecks(inputs: String, lastOut: String, checks: Checks,
      tracer: Tracer): Unit = {
    val table = new SnapshotStore(s"$lastOut/store").read(spark).get
    checks.expect("committed table", Seq("checksum" -> checksum(table)))
    checks.count(SampleDocs, sampleMismatches(table),
      "committed rows differing from Extract.extractDocument")
    if (tracer.enabled) {
      val docs = sample(ReplayDocs)
      val expected = docs.map(d => Extract.extractDocument(d.url, d.html))
      val replays = Seq(false, true).map { countAlloc =>
        val r = new CoreReplay(countAlloc)
        val out = tracer.span(if (countAlloc) "core.replay.alloc" else "core.replay") { _ =>
          val out = docs.map(d => r.replay(d.url, d.html))
          if (!countAlloc) r.recordSpans(tracer)
          out
        }
        checks.count(ReplayDocs, out.zip(expected).count { case (a, b) => a != b },
          "replayed docs differing from Extract.extractDocument")
        r
      }
      replay = Some((replays(0), replays(1)))
    }
  }

  def pinValues(dir: String): Map[String, Any] = {
    val store = new SnapshotStore(s"$dir/pin_store")
    ExtractJob.run(spark, pages(s"$dir/corpus"), store, "pin", partitions)
    Map("checksum" -> checksum(store.read(spark).get))
  }

  def perLayer(itemsPerS: Double, c: SparkProbe.Counters, n: Double): Seq[(String, Double)] = {
    val core = replay.toSeq.flatMap { case (t, a) =>
      val docs = t.docs.toDouble
      val rate = docs / (t.pipelineNs / 1e9)
      CoreReplay.Layers.indices.flatMap { l =>
        Seq(s"core.${CoreReplay.Layers(l)}_us" -> t.cost(l) / docs / 1e3,
          s"core.${CoreReplay.Layers(l)}_alloc_kb" -> a.cost(l) / docs / 1024)
      } ++ Seq("core.replay_docs_per_s" -> rate,
        "core.parallel_eff" -> itemsPerS / (Main.nproc * rate))
    }
    core ++ Seq("extract_job.map_s" -> Main.median(mapS),
      "extract_job.task_skew" -> Main.median(skew),
      "snapshot.commit_s" -> Main.median(commitS),
      "snapshot.files" -> Main.median(files),
      "snapshot.mb" -> Main.median(mb))
  }

  def extraReport(wallS: Double): Seq[(String, Double, String)] =
    Seq(("docs_per_s", Docs / wallS, "docs/s")) ++ replay.toSeq.flatMap { case (t, _) =>
      Seq(("core.replay_doc_us", t.pipelineNs / t.docs.toDouble / 1e3, "us"),
        ("core.layer_sum_frac", t.cost.sum.toDouble / t.pipelineNs, "fraction"))
    }
}

object ExtractWorkload {
  val Docs = 12000
  val WarmPasses = 4
  /** Documents compared against `Extract.extractDocument` in every run. */
  val SampleDocs = 260
  /** Documents of the traced single-thread replay (every family). */
  val ReplayDocs = 1300
  val OutputCols: Seq[String] = Seq("url", "extracted_text", "markdown",
    "blocks_json", "n_pages", "n_blocks", "n_elements", "n_lines",
    "need_ocr_pages", "parse_status", "error_class")
}

/** `CleanJob.run` over a materialised `CleanJob.DocCorpus` window: doc ids
  * [1000 * window, 1000 * window + Docs), a multiple of 10 apart so every
  * window keeps the planted per-decade duplicate structure. */
final class CleanWorkload(spark0: SparkSession, window: Int) extends Workload(spark0) {
  import CleanWorkload._

  spark.conf.set("spark.sql.shuffle.partitions", Main.nproc * 2)
  private val partitions = Main.nproc * 2
  private val offset = 1000L * window
  val items: Long = Docs
  val config: Map[String, Any] = Map("docs" -> Docs, "window_stride" -> 1000)

  def materialise(dir: String): Unit =
    CleanJob.DocCorpus.generate(spark, offset + Docs, partitions)
      .filter(col("doc_id") >= offset)
      .write.parquet(s"$dir/corpus/documents.parquet")

  def warm(dir: String): Unit = {
    CleanJob.DocCorpus.generate(spark, WarmDocs, partitions)
      .write.parquet(s"$dir/corpus/documents.parquet")
    CleanJob.run(spark, s"$dir/corpus", s"$dir/out")
  }

  private val stats = mutable.HashMap.empty[Int, Either[Throwable, CleanJob.CleanStats]]
  private val traced = mutable.HashSet.empty[Int]

  def pass(i: Int, inputs: String, out: String, probe: Option[SparkProbe],
      tracer: Tracer, attrs: mutable.LinkedHashMap[String, Any]): Unit = {
    if (probe.isDefined) traced += i
    stats(i) = tracer.span("CleanJob.run") { a =>
      val before = probe.map(_.snapshot(spark))
      val r = try Right(CleanJob.run(spark, s"$inputs/corpus", out))
        catch { case scala.util.control.NonFatal(e) => Left(e) }
      for (p <- probe; b <- before) a ++= (p.snapshot(spark) - b).attrs
      r.foreach(s => a ++= s.stageSecs.map { case (k, v) => s"stage.${k}_s" -> v })
      r
    }
  }

  def afterPass(i: Int, out: String, checks: Checks): Unit =
    stats(i) match {
      case Left(e) => checks.count(PerLayer.CleanStages.length,
        PerLayer.CleanStages.length, s"pass $i: CleanJob.run threw $e")
      case Right(s) =>
        val v = values(s)
        StageFields.foreach { case (stage, fields) =>
          checks.expect(s"pass $i stage $stage", fields.map(f => f -> v(f)))
        }
    }

  def pinValues(dir: String): Map[String, Any] =
    values(CleanJob.run(spark, s"$dir/corpus", s"$dir/out"))

  def perLayer(itemsPerS: Double, c: SparkProbe.Counters, n: Double): Seq[(String, Double)] = {
    val ok = traced.toSeq.flatMap(stats(_).toOption)
    PerLayer.CleanStages.map { st =>
      s"clean.stage.${st}_s" -> Main.median(ok.map(_.stageSecs.getOrElse(st, 0.0)))
    } ++ Seq("clean.lsh.candidates" -> c.lshCandidates / n,
      "clean.lsh.verified" -> c.lshVerified / n,
      "clean.lsh.verify_yield" ->
        (if (c.lshCandidates > 0) c.lshVerified.toDouble / c.lshCandidates else 0.0))
  }

  def extraReport(wallS: Double): Seq[(String, Double, String)] =
    Seq(("docs_per_s", Docs / wallS, "docs/s"))
}

object CleanWorkload {
  val Docs = 2000
  val WarmDocs = 200

  /** CleanStats lineage fields, grouped by the stage that decides them. */
  val StageFields: Seq[(String, Seq[String])] = Seq(
    "url" -> Seq("nInput", "urlRemoved"),
    "exact" -> Seq("exactRemoved"),
    "lsh_pairs" -> Seq("nearPairs"),
    "cc_survivors" -> Seq("nearClusters", "nearRemoved"),
    "quality_gate" -> Seq("qualityRemoved", "nFinal"),
    "substr" -> Seq("substrRewritten", "substrTokensRemoved"),
    "line_clean" -> Seq("lineGated", "lineLinesDropped", "nDelivered"),
    "repetition_gate" -> Seq("repetitionGated", "nReleased"),
    "split_assign" -> Seq("splitTrain", "splitVal", "splitTest"))

  def values(s: CleanJob.CleanStats): Map[String, Any] =
    s.productElementNames.zip(s.productIterator)
      .filter(_._1 != "stageSecs").toMap
}

/** A fixed subset of `SparkEntry.queries`, one per query family (so one per
  * ops module), over the committed sf0.01 tables through the noop sink. The
  * tables are fixed: the seed is recorded but selects nothing. */
final class SuiteWorkload(spark0: SparkSession, data: String) extends Workload(spark0) {
  import SuiteWorkload._

  val items: Long = Queries.length
  val config: Map[String, Any] = Map("queries" -> Queries.mkString(","))
  override def seeded: Boolean = false
  private val latencies = mutable.ArrayBuffer.empty[Double]
  private val thrown = mutable.HashMap.empty[Int, Seq[String]]
  private val famWall, famJobs, famShuffle = mutable.HashMap.empty[String, Double]
  private var tracedPasses = 0

  def materialise(dir: String): Unit = {
    val tables = new java.io.File(s"$dir/tables")
    tables.mkdirs()
    new java.io.File(data).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.copy(f.toPath, new java.io.File(tables, f.getName).toPath))
  }

  private def runQuery(q: String, tables: String): Unit =
    SparkEntry.queries(q)(spark, tables).write.format("noop").mode("overwrite").save()

  def warm(dir: String): Unit = {
    materialise(dir)
    Queries.foreach(runQuery(_, s"$dir/tables"))
  }

  def pass(i: Int, inputs: String, out: String, probe: Option[SparkProbe],
      tracer: Tracer, attrs: mutable.LinkedHashMap[String, Any]): Unit = {
    if (probe.isDefined) tracedPasses += 1
    thrown(i) = Queries.flatMap { q =>
      tracer.span(q) { a =>
        val before = probe.map(_.snapshot(spark))
        val t0 = System.nanoTime()
        val err = try { runQuery(q, s"$inputs/tables"); None }
          catch { case scala.util.control.NonFatal(e) => Some(s"$q threw $e") }
        val dt = (System.nanoTime() - t0) / 1e9
        if (probe.isEmpty) latencies += dt
        for (p <- probe; b <- before) {
          val d = p.snapshot(spark) - b
          a ++= d.attrs
          val f = family(q)
          famWall(f) = famWall.getOrElse(f, 0.0) + dt
          famJobs(f) = famJobs.getOrElse(f, 0.0) + d.jobs
          famShuffle(f) = famShuffle.getOrElse(f, 0.0) + d.shuffleWriteB / 1048576.0
        }
        err
      }
    }
  }

  def afterPass(i: Int, out: String, checks: Checks): Unit =
    checks.count(Queries.length, thrown(i).length,
      s"pass $i: ${thrown(i).mkString("; ")}")

  private def values(tables: String): Seq[(String, Any)] =
    Queries.flatMap { q =>
      val (rows, sum) = Checksum.of(SparkEntry.queries(q)(spark, tables))
      Seq(s"$q.rows" -> rows, s"$q.checksum" -> sum)
    }

  /** The timed passes write to the noop sink, so the checks collect every
    * query once more after them, in the same session and over the same
    * tables: a defect that only shows on repeated execution fails here. */
  override def finalChecks(inputs: String, lastOut: String, checks: Checks,
      tracer: Tracer): Unit =
    values(s"$inputs/tables").grouped(2)
      .foreach(kv => checks.expect(kv.head._1.stripSuffix(".rows"), kv))

  def pinValues(dir: String): Map[String, Any] = values(s"$dir/tables").toMap

  def perLayer(itemsPerS: Double, c: SparkProbe.Counters, n: Double): Seq[(String, Double)] =
    famWall.keys.toSeq.flatMap { f =>
      Seq(s"suite.$f.wall_s" -> famWall(f) / tracedPasses,
        s"suite.$f.jobs" -> famJobs(f) / tracedPasses,
        s"suite.$f.shuffle_mb" -> famShuffle(f) / tracedPasses)
    }

  def extraReport(wallS: Double): Seq[(String, Double, String)] = Seq(
    ("queries_per_s", Queries.length / wallS, "1/s"),
    (s"query_p50_s", Main.percentile(latencies, 0.5), s"s (n=${latencies.length})"),
    (s"query_p90_s", Main.percentile(latencies, 0.9), s"s (n=${latencies.length})"))
}

object SuiteWorkload {
  val Queries: Vector[String] = Vector(
    "q06_topk_orders", "qc1_kmeans", "qd2_minhash_sigs",
    "qg1_host_pagerank", "qm4_letterbox", "qp3_health_report", "qs2_ann_lsh",
    "qt9_tfidf", "qu4_url_features", "qx2_extract_stats")

  def family(q: String): String = q.takeWhile(!_.isDigit)
}
