package perfbench

import graft.ext.{Search, Similarity}
import graft.pipeline.{CorpusPipeline, Hive2Es}
import graft.sink.{BundleInstall, BundleReader, BundleSink}
import graft.streaming.PostingsIndexStream
import graft.transform.{DocTransform, SchemaInfer}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** File helpers shared by the workloads. */
object Fs {
  def lines(path: String): IndexedSeq[String] =
    Files.readAllLines(Paths.get(path)).asScala.toIndexedSeq.filter(_.nonEmpty)

  def tsvMap(path: String): Map[String, String] =
    lines(path).map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap

  private def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }

  /** Data files under `dir`: Spark's checksum and marker files excluded. */
  def dataFiles(dir: String): Seq[Path] = walk(dir).filter { f =>
    val n = f.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }

  def bytes(files: Seq[Path]): Long = files.map(Files.size).sum

  def rmrf(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }
  }
}

/**
 * The paper's job: scan a Hive-like table under a WHERE, infer the
 * mapping, transform rows to documents, route them into 16 shard bundles,
 * install the bundle; then routed gets read that output back. Each load
 * makes the calls `Hive2Es.runInferred` composes, one span per call.
 */
final class BulkLoad(r: Run) extends Workload {
  import r.spark
  private val tr = r.tracer
  private val table = s"${r.data}/table"
  private val expectedTotal = Fs.tsvMap(s"${r.data}/expected.tsv")("total").toLong
  private val gets = Fs.lines(s"${r.data}/gets.tsv").map { l =>
    val Array(k, n) = l.split("\t"); (k, n.toInt)
  }
  // the set-up load and two in the window, 17 gets after each: the 50
  // reads a run needs
  private val GetsPerLoad = 17
  private var loads = 0
  private var nextGet = 0
  private var getsSinceLoad = 0
  private var installed: Option[String] = None

  /** A routed get: the rows of one routing key, read through the bundle
    * connector (which prunes the scan to the key's shard). In the traced
    * run the files the scan opened are attached to the span. */
  private def routedGet(bundle: String, key: String): Int =
    tr.span("sources.get") {
      val df = BundleReader.read(spark, bundle).filter(col("_routing") === key).select("_id")
      val n = df.collect().length
      if (tr.enabled) {
        val scans = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
          case b: BatchScanExec => b
        }
        tr.note("files_read", scans.flatMap(_.inputPartitions).map {
          case fp: FilePartition => fp.files.length
          case _ => 1
        }.sum.toDouble)
      }
      n
    }

  /** One load; returns the installed bundle directory and what is wrong
    * with the load's output. */
  private def load(input: String, tag: String, expected: Long): (String, Seq[String]) = {
    val incoming = s"${r.work}/incoming-$tag"
    val installRoot = s"${r.work}/installed"
    val cfg = Hive2Es.GraftConfig(input = input, outDir = incoming, indexName = s"idx_$tag",
      numShards = 16, where = "status <> 'deleted'", id = "id", routing = "tenant",
      repartition = true, format = "json", compression = Some("gzip"))
    // runInferred caches a source with map columns for its two passes
    val src = tr.span("sources.read")(Hive2Es.read(spark, cfg)).persist()
    val res = try {
      val specs = tr.span("transform.infer")(SchemaInfer.infer(src))
      val docs = tr.span("transform.docs")(DocTransform.docs(src, cfg.id, Option(cfg.routing)))
      tr.span("sink.write")(BundleSink.write(docs, s"$incoming/${cfg.indexName}", cfg.numShards,
        cfg.partitionMultiples, cfg.repartition, cfg.format,
        Some(SchemaInfer.toMappingJson(specs)), indexName = cfg.indexName,
        typeName = cfg.typeName, compression = cfg.compression))
    } finally src.unpersist()
    val outcomes = tr.span("sink.install")(BundleInstall.installOnce(spark, incoming, installRoot))
    val dir = s"$installRoot/${cfg.indexName}"
    val manifest = new String(Files.readAllBytes(Paths.get(dir, "manifest.json")), "UTF-8")
    val total = "\"totalDocs\":(\\d+)".r.findFirstMatchIn(manifest).map(_.group(1).toLong)
      .getOrElse(-1L)
    Fs.rmrf(incoming)
    val installedDocs = outcomes match {
      case Seq(BundleInstall.Installed(_, docs, _)) => docs
      case _ => -1L
    }
    val problems = Seq(
      s"manifest total $total" -> (total == expected),
      s"write total ${res.totalDocs}" -> (res.totalDocs == expected),
      s"install outcome $outcomes" -> (installedDocs == expected)
    ).collect { case (what, false) => s"load $tag: $what, expected $expected docs" }
    (dir, problems)
  }

  /** Load the table as one op: the bundle it installs takes the gets
    * that follow, and replaces the bundle before it. */
  private def loadOp(measured: Boolean): Unit = {
    val tag = s"l$loads"
    loads += 1
    val t0 = System.nanoTime()
    val done = r.op("load", (if (measured) Seq("write") else Nil): _*)(
      load(table, tag, expectedTotal))
    done.foreach { case (dir, problems) =>
      if (measured)
        r.sample("ingest_docs_per_s", expectedTotal / ((System.nanoTime() - t0) / 1e9))
      r.expect(problems.isEmpty, problems.mkString("; "))
      val files = Fs.dataFiles(s"$dir/data")
      r.sample("bytes_per_doc", Fs.bytes(files).toDouble / expectedTotal)
      r.sample("files_written", files.size.toDouble)
      installed.foreach(Fs.rmrf)
      installed = Some(dir)
      getsSinceLoad = 0
    }
  }

  /** Set-up is the first load, on a cold JVM: the time to a first
    * installed bundle. The window's gets start on its output. */
  def setup(): Unit = loadOp(measured = false)

  def step(): Unit =
    if (installed.isEmpty || getsSinceLoad >= GetsPerLoad) loadOp(measured = true)
    else {
      val (key, expected) = gets(nextGet % gets.size)
      nextGet += 1
      getsSinceLoad += 1
      r.op("get", "read")(routedGet(installed.get, key)).foreach { n =>
        r.expect(n == expected, s"get $key: $n rows, expected $expected")
      }
    }

  def enough(minReads: Int): Boolean = r.count("write") >= 2 && r.count("read") >= minReads

  def check(): Unit = ()
}


/**
 * Curate a corpus, then serve it: set-up runs the curation pipeline
 * (quality, decontamination, exact dedup, embedding near-dup, temperature
 * mix, BPE, a columnar bundle, packing) and checks its counts against the
 * planted duplicates, then builds a postings index and an IVF-PQ vector
 * index over the curated docs. The measured loop is one client in a
 * closed loop: a fixed cycle of read ops, and every tenth op an append of
 * new docs through the streaming postings maintainer. Sampled read
 * results are compared with the corpus-scan answers after the window.
 */
final class SearchServe(r: Run) extends Workload {
  import r.spark
  import spark.implicits._
  private val tr = r.tracer
  private val expected = Fs.tsvMap(s"${r.data}/expected.tsv").map { case (k, v) => k -> v.toLong }
  private val exactDups = Fs.lines(s"${r.data}/exact_dups.tsv").map(_.toLong)
  private val appendFiles = Files.list(Paths.get(s"${r.data}/appends")).iterator().asScala
    .map(_.toString).filter(_.endsWith(".parquet")).toIndexedSeq.sorted
  private val ops = Fs.lines(s"${r.data}/ops.tsv").map(_.split("\t", -1))
  private val K = 10
  // reads compared with the scan answers: one of each exact kind, two of
  // each vector kind, whose recall is a mean over reads
  private val Checked = Map("bm25" -> 1, "phrase" -> 1, "fuzzy" -> 1, "bool" -> 1,
    "knn" -> 2, "hybrid" -> 2)
  private val RecallFloor = 0.8
  // IVF cells a vector read probes: half of the index's cells
  private var nprobe = 0
  private val curated = s"${r.work}/curated/corpus"
  private val postings = s"${r.work}/postings"
  private val ann = s"${r.work}/ann"
  private val streamIn = s"${r.work}/stream-in"
  private val curationProblems = ArrayBuffer.empty[String]
  private var served: DataFrame = _
  private var servedDocs = 0L
  private var appended = 0
  private var next = 0
  private val issued = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
  // (op args, appended batches when it ran, its result)
  private val toCheck = ArrayBuffer.empty[(Array[String], Int, Seq[Row])]

  private def vec(s: String): Seq[Double] = s.split(",").map(_.toDouble).toSeq

  private def query(a: Array[String]): Seq[Row] = a(0) match {
    case "bm25" => tr.span("search.bm25")(Search.indexedBm25TopK(spark, postings, a(1), K).collect())
    case "bm25_batch8" => tr.span("search.bm25_batch8") {
      val qs = a(1).split("\\|").zipWithIndex.map { case (q, i) => (i.toLong, q) }.toSeq
      Search.indexedBm25TopKBatch(spark, postings, qs.toDF("query_id", "query_text"), K).collect()
    }
    case "phrase" => tr.span("search.phrase")(Search.indexedPhraseTopK(spark, postings, a(1), K).collect())
    case "fuzzy" => tr.span("search.fuzzy")(
      Search.indexedFuzzyTopK(spark, postings, a(1), K, fuzziness = 1, maxExpansions = 0).collect())
    case "bool" => tr.span("search.bool")(
      Search.indexedBoolTopK(spark, postings, a(1), a(2), a(3), K).collect())
    case "mlt" => tr.span("search.mlt")(Search.indexedMoreLikeThisTopK(spark, postings, a(1), K).collect())
    case "knn" => tr.span("similarity.knn")(
      Similarity.indexTopK(Seq((-1L, vec(a(1)))).toDF("qid", "qv"), ann, "qid", "qv", K,
        nprobe = nprobe).collect())
    case "hybrid" => tr.span("search.hybrid")(
      Search.hybridTopKIndexed(spark, postings, ann, a(1), vec(a(2)), K, nprobe = nprobe).collect())
  }

  /** The served corpus after `version` appended batches: the scan answers'
    * input. */
  private def docsAt(version: Int): DataFrame =
    appendFiles.take(version).foldLeft(served) { (d, f) =>
      d.unionByName(spark.read.parquet(f).select("doc_id", "text", "embedding"))
    }

  def setup(): Unit = {
    // the curation run is an op of its own; its checks finish in check()
    val st = r.op("curate")(tr.span("pipeline.run")(CorpusPipeline.run(spark,
      s"${r.data}/corpus", s"${r.work}/curated", "corpus", numShards = 4, bpeMerges = 200,
      nearDupMethod = "embedding", decontamBench = Some(s"${r.data}/bench"),
      mixBudget = Some(expected("mix_budget")), packMaxLen = Some(256))))
      .getOrElse(throw new IllegalStateException(s"curation failed: ${r.failures.mkString}"))
    curationProblems ++= Seq("input" -> st.input, "after_quality" -> st.afterQuality,
      "after_decontam" -> st.afterDecontam, "after_exact" -> st.afterExact,
      "after_near_dup" -> st.afterNearDup).collect {
      case (k, v) if v != expected(k) => s"curate: $k = $v, expected ${expected(k)}"
    }
    if (st.bundle.totalDocs != st.afterMix || st.afterMix <= 0)
      curationProblems += s"curate: bundle docs ${st.bundle.totalDocs}, after_mix ${st.afterMix}"
    if (st.packedSeqs <= 0) curationProblems += s"curate: packed ${st.packedSeqs} sequences"
    st.stageSecs.foreach { case (k, v) => r.sample(s"stage.$k", v) }
    r.values("curated_docs") = st.bundle.totalDocs

    served = BundleReader.read(spark, curated).select("doc_id", "text", "embedding")
    servedDocs = st.bundle.totalDocs
    tr.span("search.build")(Search.buildPostingsIndex(served, "doc_id", "text", postings))
    // the nlist rule CorpusPipeline uses for the vector indexes it builds
    val nlist = math.max(4, (math.sqrt(servedDocs.toDouble) / 2).round.toInt)
    nprobe = nlist / 2
    tr.span("similarity.build")(Similarity.buildIndex(served, "doc_id", "embedding", ann,
      nlist = nlist))
    // no separate warm-up: the curation run has already exercised the
    // scan, shuffle and write paths the reads share
  }

  private def append(): Unit = {
    val src = Paths.get(appendFiles(appended))
    val in = Paths.get(streamIn)
    Files.createDirectories(in)
    // hidden while copying: the file source lists only complete files
    val tmp = in.resolve(s".${src.getFileName}")
    Files.copy(src, tmp)
    Files.move(tmp, in.resolve(src.getFileName), StandardCopyOption.ATOMIC_MOVE)
    val docs = spark.read.parquet(src.toString).count()
    val schema = spark.read.parquet(src.toString).schema
    val t0 = System.nanoTime()
    r.op("append", "write")(tr.span("streaming.append") {
      val q = PostingsIndexStream.start(spark.readStream.schema(schema).parquet(streamIn),
        postings, "doc_id", "text", s"${r.work}/stream-ckpt", availableNow = true)
      q.awaitTermination()
    }).foreach(_ => r.sample("ingest_docs_per_s", docs / ((System.nanoTime() - t0) / 1e9)))
    appended += 1
  }

  def step(): Unit = {
    val a = ops(next % ops.size)
    next += 1
    if (a(0) == "append") {
      if (appended < appendFiles.size) append()
    } else {
      val kind = a(0)
      r.op(kind, "read")(query(a)).foreach { rows =>
        if (issued(kind) < Checked.getOrElse(kind, 0))
          toCheck += ((a, appended, rows.toSeq))
        issued(kind) += 1
      }
    }
  }

  def enough(minReads: Int): Boolean = r.count("read") >= minReads && r.count("write") >= 2

  private def recall(got: Seq[Any], want: Seq[Any]): Double =
    if (want.isEmpty) 1.0 else got.toSet.intersect(want.toSet).size.toDouble / want.size

  def check(): Unit = {
    def ranked(rows: Seq[Row]) = rows.map(x => (x.getAs[Any]("doc_id"), x.getAs[Any]("rank"),
      x.getAs[Any]("score")))
    // the scan answers are independent Spark jobs: run them side by side
    // (check time is not measured, but it counts against the run's budget).
    // Each yields (kind, description, exact result matched, recall).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val verdicts = try Await.result(Future.traverse(toCheck.toSeq) { case (a, version, got) =>
      Future {
        val docs = docsAt(version)
        val what = s"${a(0)} '${a.drop(1).mkString(" | ").take(80)}' after $version appends"
        def same(want: DataFrame) = (a(0), what, ranked(got) == ranked(want.collect().toSeq), 1.0)
        def recalled(key: String, want: DataFrame) = (a(0), what, true,
          recall(got.map(_.getAs[Any](key)), want.collect().map(_.getAs[Any]("doc_id")).toSeq))
        a(0) match {
          case "bm25" => same(Search.bm25TopK(docs, "doc_id", "text", a(1), K))
          case "phrase" => same(Search.phraseTopK(docs, "doc_id", "text", a(1), K))
          case "fuzzy" => same(Search.fuzzyTopK(docs, "doc_id", "text", a(1), K, fuzziness = 1))
          case "bool" => same(Search.boolTopK(docs, "doc_id", "text", a(1), a(2), a(3), K))
          case "knn" => recalled("nid", Search.cosineTopK(served, "doc_id", "embedding", vec(a(1)), K))
          case "hybrid" => recalled("doc_id", Search.hybridTopK(docs, "doc_id", "text", served,
            "doc_id", "embedding", a(1), vec(a(2)), K))
        }
      }
    }, Duration.Inf) finally pool.shutdown()
    verdicts.foreach { case (_, what, same, _) => r.expect(same, s"$what differs from the scan answer") }
    // recall@K of the vector reads, a mean over the run's reads of a kind
    verdicts.filter(v => v._1 == "knn" || v._1 == "hybrid").groupBy(_._1).foreach { case (kind, vs) =>
      val mean = vs.map(_._4).sum / vs.size
      r.values(s"${kind}_recall") = mean
      r.expect(mean >= RecallFloor, s"$kind: mean recall $mean over ${vs.size} reads below $RecallFloor")
    }
    // no planted exact duplicate survived curation
    val servedIds = served.select("doc_id").as[Long].collect().toSet
    val leaked = exactDups.count(servedIds.contains)
    if (leaked > 0) curationProblems += s"curate: $leaked planted exact duplicates survived"
    r.expect(curationProblems.isEmpty, curationProblems.mkString("; "))
    val indexed = servedDocs + appendFiles.take(appended).map(f => spark.read.parquet(f).count()).sum
    val files = Fs.dataFiles(s"$postings/postings")
    r.values("index_files_end") = files.size
    r.sample("bytes_per_doc", Fs.bytes(files).toDouble / indexed)
    r.values("checked_ops") = toCheck.size
  }
}
