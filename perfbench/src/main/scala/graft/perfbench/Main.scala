package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.kg.{Corpus, KgPipeline, Page}
import graft.merge.{Cleanup, GraphTables}
import graft.model.{NodeSchema, RowRef}
import graft.snapshot.SnapshotTable

/** Benchmark JVM: runs one workload against the engine's public entry
  * points and writes a raw JSON record (run times, span trees, task
  * records, committed-table sizes, correctness outcomes). `run.py` turns
  * the record into the named metrics and runs the DuckDB-side checks.
  *
  *   graft.perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --data DIR --work DIR --out FILE --cores N --warmups N
  *     --queries q1,q2,... --query-data DIR
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, work: String,
                        out: String, cores: Int, warmups: Int,
                        queries: Seq[String], queryData: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("data"), req("work"), req("out"),
      req("cores").toInt, req("warmups").toInt,
      req("queries").split(",").toSeq.filter(_.nonEmpty), req("query-data"))
  }

  val mapper = new ObjectMapper()

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rec = mapper.createObjectNode()
    val ops = new Ops
    val wl: Workload = a.workload match {
      case "cold_sync" => new ColdSync(a, ops)
      case "resync" => new Resync(a, ops)
      case w => sys.error(s"unknown workload $w")
    }
    rec.put("workload", a.workload).put("seed", a.seed).put("cores", a.cores)
    val recorder = new TaskRecorder
    var spark: SparkSession = null
    def session(cores: Int): SparkSession = {
      if (spark != null) spark.stop()
      spark = graft.core.Graft.session(s"local[$cores]", cores, "perfbench")
      spark.sparkContext.addSparkListener(recorder)
      spark
    }

    // ---- set-up: session start, inputs, untimed warm-up runs ------------
    wl.reset()
    val t0 = System.nanoTime()
    wl.setup(session(a.cores))
    (1 to a.warmups).foreach { _ =>
      wl.measure(spark, tracer = None)
      wl.afterRun(spark)
    }
    rec.put("setup_s", (System.nanoTime() - t0) / 1e9)

    // ---- measured runs, tracing off: at least two ------------------------
    val runs = rec.putArray("runs")
    val t1 = System.nanoTime()
    var failures = 0
    while ((runs.size < 2 || System.nanoTime() - t1 < a.seconds * 1e9) &&
      failures < 3) {
      spark.catalog.clearCache()
      val r = wl.measure(spark, tracer = None)
      if (r == null) failures += 1 else runs.add(r)
      wl.afterRun(spark)
    }

    // ---- traced runs -------------------------------------------------------
    if (a.trace) {
      val traces = rec.putArray("traces")
      def traced(runId: String, cores: Int)(f: Tracer => ObjectNode): Unit = {
        spark.catalog.clearCache()
        recorder.reset()
        val tr = new Tracer(spark.sparkContext, runId)
        val r = f(tr)
        recorder.drain()
        val t = traces.addObject()
        t.put("run_id", tr.runId).put("cores", cores)
        t.set[ObjectNode]("run", r)
        val sp = t.putArray("spans")
        tr.spans.foreach { s =>
          sp.addObject().put("id", s.id).put("parent", s.parent)
            .put("name", s.name).put("run_id", s.runId)
            .put("start_ms", s.startMs).put("end_ms", s.endMs)
        }
        val tk = t.putArray("tasks")
        recorder.tasks.foreach { k =>
          tk.addArray().add(k.group).add(k.stageId).add(k.launchMs)
            .add(k.finishMs).add(k.cpuNs).add(k.gcMs).add(k.readBytes)
            .add(k.shuffleWriteBytes).add(k.spillBytes)
        }
        val jobs = t.putObject("jobs")
        recorder.jobs.foreach { case (g, n) => jobs.put(g, n) }
      }
      def tracedRun(cores: Int): Unit = {
        if (cores != a.cores) session(cores)
        traced(s"traced-c$cores", cores)(tr => wl.measure(spark, Some(tr)))
        wl.afterRun(spark)
      }
      tracedRun(a.cores)
      wl.tracedPasses(spark, rec.putObject("passes"), traced(_, a.cores))
      if (wl.scalingLegs) tracedRun(1)
    }

    // ---- correctness checks (untimed) -------------------------------------
    wl.checks(spark, rec.putObject("checks"))
    spark.stop()

    rec.put("attempted", ops.attempted).put("failed", ops.failed)
    val errs = rec.putArray("errors")
    ops.errors.foreach(errs.add)
    rec.put("peak_rss_mb", peakRssMb())
    Files.writeString(Paths.get(a.out), mapper.writeValueAsString(rec))
  }

  /** JVM resident high-water mark (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) SnapshotTable.deleteTree(p)

  /** Bytes of every regular file under `rel` dirs of a snapshot table. */
  def dirBytes(root: String, rels: Iterable[String]): Long =
    rels.iterator.map { rel =>
      val d = Paths.get(root, rel)
      if (!Files.isDirectory(d)) 0L
      else {
        val s = Files.walk(d)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
        finally s.close()
      }
    }.sum

  /** Rows (parquet footers) under `rel` dirs of a snapshot table. */
  def dirRows(spark: SparkSession, root: String, rels: Iterable[String]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    rels.iterator.map { rel =>
      val d = Paths.get(root, rel)
      if (!Files.isDirectory(d)) 0L
      else {
        val s = Files.list(d)
        try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
          .map { p =>
            val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(p.toUri), conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getRecordCount finally r.close()
          }.sum
        finally s.close()
      }
    }.sum
  }
}

/** Attempted/failed operation counts: syncs, cleanups, queries and
  * correctness checks. An exception or a false check is a failure.
  */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val errors: ArrayBuffer[String] = ArrayBuffer.empty

  def op[A](name: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Exception =>
        failed += 1
        errors += s"$name: ${e.toString.take(400)}"
        System.err.println(s"[perfbench] $name failed: $e")
        None
    }
  }

  def check(name: String)(ok: => Boolean): Unit =
    op(name)(ok) match {
      case Some(false) =>
        failed += 1
        errors += s"$name: check failed"
        System.err.println(s"[perfbench] check $name failed")
      case _ => ()
    }
}

/** One benchmark workload. `measure` is one closed-loop run: it returns
  * the run's record (null if the run failed); with a tracer it records
  * one span per layer call.
  */
abstract class Workload(a: Main.Args, ops: Ops) {
  val work: Path = Paths.get(a.work)
  def scalingLegs: Boolean = false
  def reset(): Unit = Main.deleteTree(work.resolve("w"))
  def setup(spark: SparkSession): Unit
  def measure(spark: SparkSession, tracer: Option[Tracer]): ObjectNode
  def afterRun(spark: SparkSession): Unit = ()
  /** Extra passes of the traced invocation; `traced(runId)(f)` records
    * f's spans and tasks as one more trace.
    */
  def tracedPasses(spark: SparkSession, out: ObjectNode,
                   traced: String => (Tracer => ObjectNode) => Unit): Unit = ()
  def checks(spark: SparkSession, out: ObjectNode): Unit

  protected def dir(name: String): String = work.resolve("w").resolve(name).toString

  protected def span[A](tracer: Option[Tracer], name: String)(f: => A): A =
    tracer match {
      case Some(t) => t.span(name)(f)
      case None => f
    }
}

/** Shared sync machinery for `cold_sync` and `resync`. */
abstract class SyncWorkload(a: Main.Args, ops: Ops) extends Workload(a, ops) {
  /** Stage name → layer name (module of the code the stage runs). */
  val StageLayers: Seq[(String, String)] = Seq(
    "extract" -> "kg.extract", "facts" -> "kg.facts",
    "canonical" -> "link.canonical", "triples" -> "kg.triples",
    "merge" -> "merge.upsert")

  protected var runNo = 0
  /** (stage dir, tag, run number) of the last run that completed. */
  protected var lastRun: Option[(String, Long, Int)] = None

  override def reset(): Unit = {
    super.reset()
    runNo = 0
    lastRun = None
  }

  /** Drop every run's stage dir except the last completed one (kept for
    * the graph checks).
    */
  override def afterRun(spark: SparkSession): Unit = {
    val keep = lastRun.map(_._1)
    (0 until runNo).map(k => dir(s"run$k")).filterNot(keep.contains)
      .foreach(d => Main.deleteTree(Paths.get(d)))
  }

  /** The run's pipeline over its stage dir (and graph). */
  def pipeline(spark: SparkSession, stageDir: String): KgPipeline
  def pagesFor(spark: SparkSession, run: Int): Dataset[Page]
  /** Pages the run syncs, computed without the pipeline. */
  def expectedPages(run: Int): Long
  /** The run's pages as a DuckDB view over documents.parquet. */
  def pagesView(run: Int): ObjectNode
  def cleanupAfterSync: Boolean

  private def graphTables(p: KgPipeline): Seq[SnapshotTable] = Seq(p.nodes, p.edges)

  private def versionsOf(ts: Seq[SnapshotTable]): Seq[Long] =
    ts.map(_.latestVersion.getOrElse(0L))

  /** Data dirs that versions (before, after] wrote and version `after`
    * still references, per table root.
    */
  private def written(ts: Seq[SnapshotTable], before: Seq[Long],
                      after: Seq[Long]): Seq[(String, Seq[String])] =
    ts.lazyZip(before).lazyZip(after).collect { case (t, b, v) if v > b =>
      val fresh = (b + 1 to v).map(k => s"data/v$k/")
      t.root -> t.partitionsOf(v).values.filter(d => fresh.exists(d.startsWith)).toSeq
    }.toSeq

  private def sizes(spark: SparkSession, dirs: Seq[(String, Seq[String])]): (Long, Long) =
    (dirs.map { case (r, rels) => Main.dirRows(spark, r, rels) }.sum,
      dirs.map { case (r, rels) => Main.dirBytes(r, rels) }.sum)

  def measure(spark: SparkSession, tracer: Option[Tracer]): ObjectNode = {
    val k = runNo
    runNo += 1
    val tag = 100L + k
    val stageDir = dir(s"run$k")
    val pipe = pipeline(spark, stageDir)
    val graph = graphTables(pipe) ++ pipe.edgeIndex.map(_.table)
    val before = versionsOf(graph)
    val pages = pagesFor(spark, k)
    // (layer, graph versions before, graph versions after) of each call
    val marks = ArrayBuffer.empty[(String, Seq[Long], Seq[Long])]
    def call[A](layer: String)(f: => A): A = {
      val b = versionsOf(graph)
      val a = span(tracer, layer)(f)
      marks += ((layer, b, versionsOf(graph)))
      a
    }
    var stats: Option[graft.merge.CleanupStats] = None
    val res = ops.op(s"sync run $k") {
      Main.seconds {
        span(tracer, "run") {
          if (tracer.isEmpty) pipe.run(pages, Corpus.aliasRows, tag, mergeGraph = true)
          // the traced sync runs one stage per call, as --selected-modules does
          else StageLayers.foreach { case (stage, layer) =>
            call(layer)(pipe.runStages(pages, Corpus.aliasRows, tag, stage))
          }
          if (cleanupAfterSync) stats = ops.op(s"cleanup run $k") {
            call("merge.cleanup")(Cleanup.run(spark,
              NodeSchema("Page", RowRef("id")), Map.empty, tag,
              pipe.nodes, pipe.edges, pipe.edgeIndex))
          }
        }
      }
    }
    if (res.isEmpty) return null
    val out = Main.mapper.createObjectNode()
    out.put("wall_s", res.get._2).put("tag", tag).put("run", k)
    System.err.println(f"[perfbench] sync run $k ${res.get._2}%.3f s")
    stats.foreach(s => out.put("nodes_deleted", s.nodesDeleted).put("edges_deleted", s.edgesDeleted))
    // committed sizes from footers and file sizes, after the timed region
    if (tracer.isDefined) {
      val layerOut = out.putObject("layers")
      marks.foreach { case (layer, b, a) =>
        val (rows, bytes) = StageLayers.collectFirst {
          case (stage, `layer`) if stage != "merge" =>
            val t = SnapshotTable(spark, s"$stageDir/stage_$stage", None)
            sizes(spark, Seq(t.root -> t.partitionsOf(t.latestVersion.get).values.toSeq))
        }.getOrElse(sizes(spark, written(graph, b, a)))
        layerOut.putObject(layer).put("out_rows", rows).put("out_bytes", bytes)
      }
    }
    val extract = SnapshotTable(spark, s"$stageDir/stage_extract", None)
    val triples = SnapshotTable(spark, s"$stageDir/stage_triples", None)
    val nPages = extract.rowCount()
    out.put("pages", nPages).put("triples", triples.rowCount())
    val gt = graphTables(pipe)
    val live = gt.map(t => t.root -> t.partitionsOf(t.latestVersion.get).values.toSeq)
    val pageNodes = Main.dirRows(spark, pipe.nodes.root,
      pipe.nodes.partitionsOf(pipe.nodes.latestVersion.get)
        .collect { case (pv, rel) if pv.startsWith("Page~") => rel })
    val fresh = written(gt, before.take(gt.size), versionsOf(gt))
    val bytesWritten = gt.lazyZip(before).map { (t, b) =>
      Main.dirBytes(t.root, (b + 1 to t.latestVersion.get).map(v => s"data/v$v")) }.sum
    out.put("graph_bytes", live.map { case (r, rels) => Main.dirBytes(r, rels) }.sum)
      .put("page_nodes", pageNodes)
      .put("graph_bytes_written", bytesWritten)
      .put("partitions_carried", live.map(_._2.size).sum - fresh.map(_._2.size).sum)
      .put("partitions_total", live.map(_._2.size).sum)
    ops.check(s"run $k page count")(nPages == expectedPages(k))
    ops.check(s"run $k Page-node count")(pageNodes == expectedPages(k))
    lastRun = Some((stageDir, tag, k))
    out
  }

  /** Graph-level checks on the last run: no MENTIONS edge points at a
    * missing Page, and the run's triple edges exported for the DuckDB
    * arithmetic check in run.py.
    */
  override def checks(spark: SparkSession, out: ObjectNode): Unit = lastRun.foreach {
    case (stageDir, tag, k) =>
      val pipe = pipeline(spark, stageDir)
      ops.check("no MENTIONS edge points at a deleted Page") {
        val pagesLive = pipe.nodes.readPartition("Page").get.select(col("id").as("pid"))
        pipe.edges.readPartition("MENTIONS").get
          .join(pagesLive, col("src_id") === col("pid"), "left_anti").isEmpty
      }
      val path = dir("check_triples")
      ops.op("export triple edges") {
        pipe.edges.read()
          .filter(col("lastupdated") === tag &&
            col("rel_label").isin(Corpus.predicates.map(_._1): _*))
          .select(col("src_id").as("subj"), col("rel_label").as("pred"),
            col("dst_id").as("obj"),
            element_at(col("props"), "n_sources").cast("long").as("n_sources"))
          .coalesce(1).write.mode("overwrite").parquet(path)
      }
      val t = out.putObject("triples")
      t.put("path", path).put("tag", tag)
      t.set[ObjectNode]("pages", pagesView(k))
      t.put("triple_cte", graft.operators.KgOps.tripleCte)
      val preds = t.putArray("predicates")
      Corpus.predicates.foreach(p => preds.add(p._1))
  }
}

/** `cold_sync`: the r5 page recipe (the documents table, 14,000 noise
  * words per page, rendered lazily by `Corpus.pages` over its default
  * input partitioning) through all five stages into an empty graph, in a
  * fresh work dir per run.
  */
final class ColdSync(a: Main.Args, ops: Ops) extends SyncWorkload(a, ops) {
  val Replicas = 1
  val Noise = 14000
  /** Seed-chosen replica offset: page ids are doc_id + (r + off) * 10000. */
  val repOffset: Int = (a.seed % 97).toInt
  private var nDocs = 0L
  override def scalingLegs: Boolean = true
  def cleanupAfterSync = false
  def pipeline(spark: SparkSession, stageDir: String): KgPipeline =
    new KgPipeline(spark, stageDir)

  def setup(spark: SparkSession): Unit =
    nDocs = spark.read.parquet(s"${a.data}/documents.parquet").count()

  def pagesFor(spark: SparkSession, run: Int): Dataset[Page] =
    Corpus.pages(spark, a.data, Replicas, Noise, repOffset)

  def expectedPages(run: Int): Long = nDocs * Replicas

  def pagesView(run: Int): ObjectNode = Main.mapper.createObjectNode()
    .put("rep_from", repOffset).put("rep_to", repOffset + Replicas)

  /** Render-only pass of the same input: `Corpus.pages` → total html
    * bytes. Separates fixture synthesis from extract.
    */
  override def tracedPasses(spark: SparkSession, out: ObjectNode,
                            traced: String => (Tracer => ObjectNode) => Unit): Unit = {
    spark.catalog.clearCache()
    val (bytes, s) = Main.seconds {
      ops.op("render-only pass") {
        pagesFor(spark, 0).select(length(col("html")).cast("long").as("n"))
          .agg(sum(col("n"))).head().getLong(0)
      }.getOrElse(0L)
    }
    out.putObject("kg.render").put("s", s).put("bytes", bytes)
  }
}

/** `resync`: steady-state re-sync plus cleanup of a shared graph. Set-up
  * writes a light-page parquet input table; its first warm-up run syncs
  * every page but slice 0 into the empty graph, which is the base graph. Run k
  * leaves out slice k mod 2 of two alternating url slices, so cleanup
  * deletes the slice left out and the graph has the same size before
  * every run.
  */
final class Resync(a: Main.Args, ops: Ops) extends SyncWorkload(a, ops) {
  val Replicas = 1
  val repOffset: Int = (a.seed % 89).toInt
  /** Slice of page id i: (i + seed) mod 10; slices 0 and 1 alternate. */
  val sliceMod = 10
  def cleanupAfterSync = true
  private var sliceCounts: Map[Int, Long] = Map.empty
  private def input = dir("input")
  private def graph = dir("graph")
  def pipeline(spark: SparkSession, stageDir: String): KgPipeline =
    new KgPipeline(spark, stageDir, GraphTables.DefaultBuckets, Some(graph),
      maintainEdgeIndex = true)
  /** Run k (the warm-ups are runs 0 and 1) leaves out slice k mod 2. */
  private def leftOut(run: Int): Int = run % 2

  def setup(spark: SparkSession): Unit = {
    Corpus.pages(spark, a.data, Replicas, 0, repOffset)
      .withColumn("slice", pmod(regexp_extract(col("url"), "/p/(\\d+)$", 1)
        .cast("long") + lit(a.seed), lit(sliceMod.toLong)).cast("int"))
      .write.parquet(input)
    sliceCounts = spark.read.parquet(input).groupBy("slice").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  def pagesFor(spark: SparkSession, run: Int): Dataset[Page] = {
    import spark.implicits._
    spark.read.parquet(input).filter(col("slice") =!= leftOut(run))
      .drop("slice").as[Page]
  }

  def expectedPages(run: Int): Long =
    sliceCounts.values.sum - sliceCounts.getOrElse(leftOut(run), 0L)

  def pagesView(run: Int): ObjectNode = Main.mapper.createObjectNode()
    .put("rep_from", repOffset).put("rep_to", repOffset + Replicas)
    .put("slice_mod", sliceMod).put("slice_seed", a.seed)
    .put("left_out", leftOut(run))

  private var queryPass: Option[QueryPass] = None

  override def tracedPasses(spark: SparkSession, out: ObjectNode,
                            traced: String => (Tracer => ObjectNode) => Unit): Unit =
    if (a.queries.nonEmpty) {
      val qp = new QueryPass(a, ops, dir("check_queries"))
      qp.warmup(spark)
      traced("queries")(tr => qp.traced(spark, tr))
      queryPass = Some(qp)
    }

  override def checks(spark: SparkSession, out: ObjectNode): Unit = {
    super.checks(spark, out)
    queryPass.foreach(_.checks(out))
  }

  /** Old graph versions are expired here, outside the timed region. */
  override def afterRun(spark: SparkSession): Unit = {
    super.afterRun(spark)
    lastRun.foreach { case (d, _, _) =>
      val pipe = pipeline(spark, d)
      (Seq(pipe.nodes, pipe.edges) ++ pipe.edgeIndex.map(_.table))
        .foreach(_.expireVersions(1))
    }
  }
}

/** The query pass of `resync`'s traced invocation: the `--queries`
  * subset of `graft.Bench`'s headline queries over the `--query-data`
  * tables, in seed order, one at a time. A warm-up pass writes each
  * result to parquet for run.py's DuckDB oracle check; the traced pass
  * then runs each query through the noop sink under its own span.
  */
final class QueryPass(a: Main.Args, ops: Ops, checkDir: String) {
  val order: Seq[String] = new scala.util.Random(a.seed).shuffle(a.queries)
  private val written = scala.collection.mutable.LinkedHashMap.empty[String, String]

  def warmup(spark: SparkSession): Unit = order.foreach { q =>
    val path = s"$checkDir/$q"
    ops.op(s"$q result") {
      SparkEntry.queries(q)(spark, a.queryData).write.mode("overwrite").parquet(path)
    }.foreach(_ => written(q) = path)
    spark.catalog.clearCache()
  }

  def traced(spark: SparkSession, tr: Tracer): ObjectNode = {
    val out = Main.mapper.createObjectNode()
    val (_, wall) = Main.seconds {
      tr.span("run") {
        order.foreach { q =>
          ops.op(q)(tr.span(s"query.$q") {
            SparkEntry.queries(q)(spark, a.queryData)
              .write.format("noop").mode("overwrite").save()
          })
        }
      }
    }
    // storage memory still pinned after the mix (e.g. Dedup's caches)
    out.put("wall_s", wall)
      .put("cached_mb", spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6)
    spark.catalog.clearCache()
    out
  }

  def checks(out: ObjectNode): Unit = {
    val qs = out.putObject("queries")
    written.foreach { case (q, path) =>
      qs.putObject(q).put("path", path).put("sql", SparkEntry.oracleSql(q))
    }
  }
}
