package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.link.{Blocking, ConnectedComponents}
import graft.merge.{GraphMerge, GraphTables}
import graft.model.{NodeSchema, RowRef}
import graft.snapshot.SnapshotTable

/** End-to-end KG-construction pipeline (the north star):
  *
  *   pages → extract (HTML→text, byte-identical) → mentions (Aho–Corasick
  *   over broadcast dictionary) → links → duplicate-entity candidates
  *   (exact ∪ MinHash-LSH ∪ rare-token blocking, Jaccard-verified) →
  *   large-star/small-star CC canonicalization → triples → GraphMerge
  *   into nodes/edges snapshot tables.
  *
  * Stage protocol (the Sync.run analog, cartography/sync.py:66-124, with
  * the checkpoint/resume semantics the reference lacks): every stage
  * commits its output to a SnapshotTable stamped with the run's
  * update_tag; on re-run with the same tag a committed stage is read
  * back instead of recomputed — kill/restart resumes at the first
  * incomplete stage. Each stage also appends per-partition lineage rows
  * (ModuleSyncMetadata + statsd counters analog, cartography/util.py:
  * 133-165, graph/statement.py:99-112).
  *
  * Scale notes: extract/mentions/links/triples are narrow (zero
  * shuffle); the dictionary is broadcast; entity-space work (CC) is
  * orders of magnitude smaller than the corpus; the merge shuffles once
  * per graph partition. Mention links against a Zipf-headed entity space
  * aggregate per (url, entity) BEFORE any wider join, which is the
  * map-side-combine-style defusal of head-entity skew.
  *
  * @param graphRoot decouples the GRAPH tables from the stage/lineage
  *   work dir: multi-tenant orchestration gives each tenant its own
  *   stage dir (independent checkpoint/resume per tenant) while every
  *   tenant merges into ONE shared graph — the reference's per-account
  *   sync loop over a single Neo4j instance (`_sync_multiple_accounts`).
  * @param maintainEdgeIndex attaches the reverse endpoint index
  *   ([[graft.merge.EdgeEndpointIndex]]) to every edge commit this
  *   pipeline makes, which is what keeps index-backed DETACH sound — the
  *   index must see every commit from the graph's FIRST edge write (or a
  *   `rebuild` must run). Built on the same graph dir + bucket count as
  *   the edge table so bucket arithmetic can never drift.
  */
final class KgPipeline(spark: SparkSession, workRoot: String,
                       graphBuckets: Int = GraphTables.DefaultBuckets,
                       graphRoot: Option[String] = None,
                       maxBroadcastAliases: Long = KgPipeline.MaxBroadcastAliases,
                       maintainEdgeIndex: Boolean = false) {
  import spark.implicits._

  private def stageTable(name: String): SnapshotTable =
    SnapshotTable(spark, s"$workRoot/stage_$name", None)

  private val graphDir: String = graphRoot.getOrElse(s"$workRoot/graph")

  // graphBuckets is deployment-sized (SnapshotTable scaladoc): 8 at test
  // scale, hundreds+ at corpus scale so an incremental merge's touched
  // fraction stays proportional to the batch
  val nodes: SnapshotTable = GraphTables.nodes(spark, graphDir, graphBuckets)
  val edges: SnapshotTable = GraphTables.edges(spark, graphDir, graphBuckets)

  /** The endpoint index this pipeline maintains (None unless
    * `maintainEdgeIndex`); hand it to [[graft.merge.Cleanup.run]] for
    * the batch-proportional DETACH sweep.
    */
  val edgeIndex: Option[graft.merge.EdgeEndpointIndex] =
    if (maintainEdgeIndex)
      Some(graft.merge.EdgeEndpointIndex(spark, graphDir, graphBuckets))
    else None

  /** True if `name` already committed for this updateTag (resume). */
  def stageDone(name: String, updateTag: Long): Boolean = {
    val t = stageTable(name)
    t.latestVersion.exists(v => t.updateTagOf(v) == updateTag)
  }

  /** One per-partition lineage record (ModuleSyncMetadata + statsd
    * counters analog).
    */
  private final case class LineageRow(stage: String, partitionId: Int,
                                      updateTag: Long, rowsIn: Long,
                                      rowsOut: Long)

  /** Append lineage rows, driver-side, as one JSONL file — written
    * immediately AFTER the stage commit, so the only loss window is the
    * tiny post-commit gap (the same exposure as the reference's
    * per-statement metadata write). The rows are per-FILE counts read
    * from parquet footers: a Spark count job per stage costs more in
    * scheduling than the data, and those fixed per-stage jobs are
    * exactly the serial fraction that caps scaling efficiency between
    * the two bench parallelism levels.
    */
  private def writeLineage(rows: Seq[LineageRow]): Unit = {
    if (rows.isEmpty) return
    val dir = java.nio.file.Paths.get(s"$workRoot/lineage")
    java.nio.file.Files.createDirectories(dir)
    val sb = new StringBuilder
    rows.foreach { r =>
      sb.append(s"""{"stage":"${r.stage}","partition_id":${r.partitionId},""")
        .append(s""""update_tag":${r.updateTag},"rows_in":${r.rowsIn},"rows_out":${r.rowsOut}}""")
        .append('\n'): Unit
    }
    val f = dir.resolve(s"part-${rows.head.stage}-${rows.head.updateTag}-${System.nanoTime()}.json")
    java.nio.file.Files.writeString(f, sb.toString): Unit
  }

  private def footerLineage(stage: String, counts: Seq[Long],
                            updateTag: Long): Seq[LineageRow] =
    counts.zipWithIndex.map { case (n, i) =>
      LineageRow(stage, i, updateTag, -1L, n)
    }

  def lineageRows(): DataFrame = spark.read
    .schema("stage STRING, partition_id INT, update_tag LONG, rows_in LONG, rows_out LONG")
    .json(s"$workRoot/lineage")

  /** Run (or resume) one stage: compute, commit, lineage (one footer
    * pass; extras get the committed frame and its per-file counts). Wall
    * time goes to stderr (statsd-timer analog, cartography/util.py:176-196).
    */
  private def stage(name: String, updateTag: Long,
                    extraLineage: (DataFrame, Seq[Long]) => Seq[LineageRow] =
                      (_, _) => Nil)
                   (compute: => DataFrame): DataFrame = {
    val t = stageTable(name)
    if (stageDone(name, updateTag)) t.read()
    else {
      val t0 = System.nanoTime()
      val out = compute
      val v = t.commit(out, updateTag)
      val committed = t.readVersion(v)
      val counts = t.fileRowCounts(v)
      writeLineage(footerLineage(name, counts, updateTag) ++ extraLineage(committed, counts))
      System.err.println(f"[kg-timing] stage=$name sec=${(System.nanoTime() - t0) / 1e9}%.2f")
      committed
    }
  }

  final case class Result(pages: DataFrame, texts: DataFrame,
                          links: DataFrame, canonical: DataFrame,
                          triples: DataFrame)

  /** Driver-resident dictionary entrypoint (tests, small syncs). */
  def run(pagesIn: Dataset[Page], dict: Seq[AliasRow], updateTag: Long,
          mergeGraph: Boolean = true): Result =
    runWith(pagesIn, dict, None, updateTag, mergeGraph)

  /** Table-native dictionary entrypoint — the 100 TB shape: the alias
    * dictionary arrives as a (parquet/Iceberg-backed) Dataset, not a
    * driver Seq. At or under [[KgPipeline.MaxBroadcastAliases]] rows the
    * dictionary is driver-materialized and the single-automaton broadcast
    * path runs; ABOVE the cap the pipeline automatically switches to the
    * sharded scan ([[Extract.factsSharded]] — hash-sharded automatons,
    * union + global leftmost-longest resolution, distributed alias→entity
    * joins) and the distributed blocking/CC path, so no dictionary size
    * is a hard input limit.
    */
  def run(pagesIn: Dataset[Page], dict: Dataset[AliasRow], updateTag: Long,
          mergeGraph: Boolean): Result =
    KgPipeline.boundedCollectOpt(dict, maxBroadcastAliases) match {
      case Some(rows) => runWith(pagesIn, rows, Some(dict), updateTag, mergeGraph)
      case None => runCore(pagesIn, updateTag, mergeGraph,
        texts => factsShardedCompute(texts, dict),
        () => canonicalDistributed(dict))
    }

  /** Stage-subset run from a table-backed dictionary (the CLI path).
    * Over-cap dictionaries take the sharded facts + distributed
    * canonicalization paths, as in [[run]].
    */
  def runStages(pagesIn: Dataset[Page], dict: Dataset[AliasRow],
                updateTag: Long, selectedModules: String): Unit =
    KgPipeline.boundedCollectOpt(dict, maxBroadcastAliases) match {
      case Some(rows) => runStages(pagesIn, rows, updateTag, selectedModules)
      case None => runStagesCore(pagesIn, updateTag, selectedModules,
        texts => factsShardedCompute(texts, dict),
        () => canonicalDistributed(dict))
    }

  /** links view over the committed facts table (kind 0 rows). */
  private def linksView(facts: DataFrame): DataFrame =
    facts.filter(col("kind") === 0)
      .select(col("url"), col("start"), col("end"), col("a").as("entity_id"))

  /** Per-partition link counts for lineage — the one lineage that needs
    * a scan (links = the kind-0 SUBSET of the committed facts table, so
    * footers can't answer it). One small groupBy job.
    */
  private def linksLineage(factsCommitted: DataFrame, updateTag: Long): Seq[LineageRow] =
    factsCommitted.filter(col("kind") === 0)
      .groupBy(spark_partition_id().as("p")).agg(count(lit(1)).as("n"))
      .collect().toSeq
      .map(r => LineageRow("links", r.getInt(0), updateTag, -1L, r.getLong(1)))

  /** Fused single-pass extraction on English pages only (lang filter is
    * part of the pipeline contract, FIXTURES.md §1): one AC scan emits
    * links AND raw triples, committed as one table, consumed as two
    * filtered views.
    */
  private def factsCompute(textsDf: DataFrame, dict: Seq[AliasRow]): DataFrame = {
    val en = textsDf.filter(col("lang") === "en").as[PageText]
    Extract.facts(spark, en, dict, Corpus.predicates).toDF()
  }

  /** Over-cap facts: k-sharded automaton scan (scratch under the work
    * dir so re-runs overwrite; the committed stage output is what
    * downstream reads).
    */
  private def factsShardedCompute(textsDf: DataFrame,
                                  dict: Dataset[AliasRow]): DataFrame = {
    val en = textsDf.filter(col("lang") === "en").as[PageText]
    Extract.factsSharded(spark, en, dict, Corpus.predicates,
      s"$workRoot/facts_scratch", maxBroadcastAliases).toDF()
  }

  /** Blocking + CC live in entity space (≪ corpus size). Below the
    * local bound the candidate generation runs on the driver (same
    * semantics, pinned by tests); above it the distributed Dataset/LSH
    * path takes over — on the table-backed Dataset when one was
    * provided, so the dictionary never round-trips the driver.
    */
  private def canonicalCompute(dict: Seq[AliasRow],
                               dictDs: Option[Dataset[AliasRow]]): DataFrame = {
    if (dict.sizeIs <= KgPipeline.LocalBlockingBound) {
      val dupEdges = Blocking.duplicateEntityEdgesLocal(dict)
        .map(p => (p.a, p.b)).toDF("u", "v")
      val allEntities = dictDs match {
        case Some(ds) => ds.select(col("entity_id").as("id")).distinct()
        case None => dict.map(_.entity_id).distinct.toDF("id")
      }
      ConnectedComponents.run(spark, dupEdges, allEntities)
    } else canonicalDistributed(dictDs.getOrElse(dict.toDS()))
  }

  /** Dataset-native blocking + CC — the only canonicalization shape an
    * over-cap dictionary can take (it never round-trips the driver).
    */
  private def canonicalDistributed(ds: Dataset[AliasRow]): DataFrame = {
    val dupEdges = Blocking.duplicateEntityEdges(spark, ds).toDF("u", "v")
    val allEntities = ds.select(col("entity_id").as("id")).distinct()
    ConnectedComponents.run(spark, dupEdges, allEntities)
  }

  /** Canonicalize subject and object of raw pattern triples (entity
    * space is small relative to the corpus -> broadcast both joins; no
    * corpus-wide shuffle).
    */
  private def triplesCompute(factsDf: DataFrame, canonicalDf: DataFrame): DataFrame = {
    val raw = factsDf.filter(col("kind") === 1)
      .select(col("url"), col("a").as("subj"), col("pred"), col("obj"))
    val canonS = broadcast(canonicalDf
      .select(col("id").as("subj"), col("canonical_id").as("csubj")))
    val canonO = broadcast(canonicalDf
      .select(col("id").as("obj"), col("canonical_id").as("cobj")))
    raw.join(canonS, Seq("subj")).join(canonO, Seq("obj"))
      .select(col("url"), col("csubj").as("subj"), col("pred"),
        col("cobj").as("obj"))
      .dropDuplicates()
  }

  /** Config-selected partial sync — the build_sync(selected_modules)
    * analog (cartography/sync.py:210-243): run ONLY the named stages, in
    * the given order, against this work dir. A later stage reads its
    * inputs from the committed outputs of earlier ones — possibly
    * produced by a previous partial run with the same tag — and fails
    * fast when a dependency has not been committed. Stage names are
    * validated against [[KgPipeline.StageNames]] with the reference's
    * error shape.
    */
  def runStages(pagesIn: Dataset[Page], dict: Seq[AliasRow], updateTag: Long,
                selectedModules: String): Unit =
    runStagesCore(pagesIn, updateTag, selectedModules,
      texts => factsCompute(texts, dict),
      () => canonicalCompute(dict, None))

  private def runStagesCore(pagesIn: Dataset[Page], updateTag: Long,
                            selectedModules: String,
                            factsFn: DataFrame => DataFrame,
                            canonFn: () => DataFrame): Unit = {
    val selected = graft.jobs.Sync.parseAndValidateSelectedModules(
      selectedModules, KgPipeline.StageNames)
    def need(dep: String, forStage: String): DataFrame = {
      require(stageDone(dep, updateTag),
        s"stage '$forStage' requires '$dep' to be committed for tag " +
          s"$updateTag — include it in selected_modules or run it first")
      stageTable(dep).read()
    }
    selected.foreach {
      case "extract" =>
        stage("extract", updateTag,
          (_, counts) => footerLineage("pages", counts, updateTag)) {
          Extract.pageText(pagesIn.toDF().as[Page]).toDF()
        }: Unit
      case "facts" =>
        val texts = need("extract", "facts")
        stage("facts", updateTag,
          (committed, _) => linksLineage(committed, updateTag)) {
          factsFn(texts)
        }: Unit
      case "canonical" =>
        stage("canonical", updateTag)(canonFn()): Unit
      case "triples" =>
        val facts = need("facts", "triples")
        val canon = need("canonical", "triples")
        stage("triples", updateTag)(triplesCompute(facts, canon)): Unit
      case "merge" =>
        if (!stageDone("merge", updateTag)) {
          val texts = need("extract", "merge")
          val facts = need("facts", "merge")
          val canon = need("canonical", "merge")
          val triples = need("triples", "merge")
          mergeStage(texts, linksView(facts), canon, triples, updateTag)
          stageTable("merge").commit(
            Seq((updateTag, "done")).toDF("tag", "state"), updateTag)
        }
    }
  }

  private def runWith(pagesIn: Dataset[Page], dict: Seq[AliasRow],
                      dictDs: Option[Dataset[AliasRow]], updateTag: Long,
                      mergeGraph: Boolean): Result =
    runCore(pagesIn, updateTag, mergeGraph,
      texts => factsCompute(texts, dict),
      () => canonicalCompute(dict, dictDs))

  private def runCore(pagesIn: Dataset[Page], updateTag: Long,
                      mergeGraph: Boolean,
                      factsFn: DataFrame => DataFrame,
                      canonFn: () => DataFrame): Result = {
    // The pages table is the pipeline's INPUT — in production an
    // immutable Iceberg table that already exists; it is never committed
    // as a stage (a pipeline reads its input, it does not rewrite it).
    // Resumability starts at the first derived stage: `pagesIn` must be
    // deterministic or table-backed, and each stage below commits.
    val pagesDf = pagesIn.toDF()

    // Input-cardinality lineage rows ("pages") reuse the committed
    // extract output's per-file counts (1 row per page): no re-scan of
    // the raw input, no second footer pass.
    val textsDf = stage("extract", updateTag,
      (_, counts) => footerLineage("pages", counts, updateTag)) {
      Extract.pageText(pagesDf.as[Page]).toDF()
    }

    val factsDf = stage("facts", updateTag,
      (committed, _) => linksLineage(committed, updateTag)) {
      factsFn(textsDf)
    }
    val linksDf = linksView(factsDf)

    val canonicalDf = stage("canonical", updateTag) {
      canonFn()
    }

    val triplesDf = stage("triples", updateTag) {
      triplesCompute(factsDf, canonicalDf)
    }

    if (mergeGraph && !stageDone("merge", updateTag)) {
      val t0 = System.nanoTime()
      mergeStage(textsDf, linksDf, canonicalDf, triplesDf, updateTag)
      stageTable("merge").commit(Seq((updateTag, "done")).toDF("tag", "state"), updateTag)
      System.err.println(f"[kg-timing] stage=merge sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    }

    Result(pagesDf, textsDf, linksDf, canonicalDf, triplesDf)
  }

  /** Stage 3: materialize Entity/Page nodes, MENTIONS edges and triple
    * edges through the upsert engine (firstseen/lastupdated semantics).
    */
  private def subTimed[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val a = f
    System.err.println(f"[kg-timing] substage=$name sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    a
  }

  /** `textsDf` (the committed extract output — one row per page with
    * url + lang) supplies the Page-node batch: projecting the raw input
    * would re-render/re-read every page's html for two columns.
    */
  private def mergeStage(textsDf: DataFrame, linksDf: DataFrame,
                         canonicalDf: DataFrame, triplesDf: DataFrame,
                         updateTag: Long): Unit = subTimed("merge.total") {
    // Page + Entity nodes in ONE fused upsert + commit (two separate
    // load() rounds would double the join/write jobs for no reason —
    // neither schema declares relationships; those go through the edge
    // batch below).
    // dedup=false: texts is one row per url and canonical ids are
    // distinct()'d — the MERGE id-collapse shuffle would re-shuffle the
    // corpus-sized Page side for nothing
    val pageRows = GraphMerge.toNodeRows(
      textsDf.select(col("url").as("id"), col("lang")),
      NodeSchema("Page", RowRef("id"), properties = Map("lang" -> RowRef("lang"))),
      Map.empty, updateTag, dedup = false)
    val entityRows = GraphMerge.toNodeRows(
      canonicalDf.select(col("canonical_id").as("id")).distinct(),
      NodeSchema("Entity", RowRef("id")),
      Map.empty, updateTag, dedup = false)
    // both inputs are key-unique (texts is one row per url; canonical ids
    // are distinct()'d) and the two labels can't collide — skip the
    // batch-dedup shuffle of the corpus-sized Page-node side
    subTimed("merge.nodes")(GraphMerge.upsertNodeBatch(spark,
      pageRows.unionByName(entityRows), updateTag, nodes, dedupBatch = false))

    // MENTIONS edges with per-pair mention counts: aggregate BEFORE the
    // edge upsert (partial aggregation defuses the Zipf head entity).
    // countDistinct(span) inside ONE groupBy replaces the previous
    // dropDuplicates-then-count pair — same result, one shuffle fewer.
    val canonB = broadcast(canonicalDf
      .select(col("id").as("entity_id"), col("canonical_id")))
    val mentionEdges = linksDf.join(canonB, Seq("entity_id"))
      .groupBy(col("url"), col("canonical_id"))
      .agg(countDistinct(struct(col("start"), col("end"))).as("n_mentions"))
      .select(lit("Page").as("src_label"), col("url").as("src_id"),
        lit("MENTIONS").as("rel_label"),
        lit("Entity").as("dst_label"), col("canonical_id").as("dst_id"),
        map(lit("n_mentions"), col("n_mentions").cast("string")).as("props"),
        lit(updateTag).as("firstseen"), lit(updateTag).as("lastupdated"))

    val tripleEdges = triplesDf
      .groupBy(col("subj"), col("pred"), col("obj"))
      .agg(countDistinct(col("url")).as("n_sources"))
      .select(lit("Entity").as("src_label"), col("subj").as("src_id"),
        col("pred").as("rel_label"),
        lit("Entity").as("dst_label"), col("obj").as("dst_id"),
        map(lit("n_sources"), col("n_sources").cast("string")).as("props"),
        lit(updateTag).as("firstseen"), lit(updateTag).as("lastupdated"))

    // both inputs are aggregation outputs, hence already key-unique —
    // skip the batch-dedup shuffle
    subTimed("merge.edges")(GraphMerge.upsertEdgeBatch(spark,
      mentionEdges.unionByName(tripleEdges), updateTag, edges,
      collectStats = false, dedupBatch = false, edgeIndex = edgeIndex))
  }
}

object KgPipeline {
  /** Registry of stage names, in canonical dependency order — the
    * TOP_LEVEL_MODULES analog (cartography/sync.py:47-61).
    */
  val StageNames: Seq[String] =
    Seq("extract", "facts", "canonical", "triples", "merge")

  /** Upper bound on driver-materialized dictionary rows: the AC automaton
    * and alias→entity map are broadcast to every executor, so they must
    * fit in one heap no matter how the rows arrive. ~5M aliases ≈ low
    * hundreds of MB of automaton — the practical ceiling for a broadcast.
    * A dictionary above the cap no longer fails: the pipeline switches to
    * the k-sharded automaton scan ([[Extract.factsSharded]]), which keeps
    * per-executor memory at one shard's automaton and substitutes
    * entities via distributed joins.
    */
  val MaxBroadcastAliases: Long = 5000000L

  /** Below this many dictionary rows, blocking + CC candidate generation
    * runs on the driver (identical semantics, pinned by KgSpec) — small
    * syncs skip ~10 tiny Spark jobs.
    */
  val LocalBlockingBound: Int = 200000

  /** Materialize a table-backed dictionary on the driver with the
    * broadcast bound enforced IN the scan: `limit(cap+1)` collects at
    * most cap+1 rows (one job, bounded driver memory — a count-then-
    * collect pair would scan twice and an unguarded collect of an
    * over-cap dictionary would OOM the driver before any check ran).
    * None = over the cap; the caller switches to the sharded scan.
    */
  def boundedCollectOpt(dict: Dataset[AliasRow],
                        cap: Long = MaxBroadcastAliases): Option[Seq[AliasRow]] = {
    val rows = dict.limit(cap.toInt + 1).collect()
    if (rows.length <= cap) Some(rows.toSeq) else None
  }
}
