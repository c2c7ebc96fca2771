package graft.snapshot

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.SparkSpecBase
import graft.merge.{GraphMerge, GraphTables}
import graft.model.{NodeSchema, RowRef}

/** Schema-carrying manifests: every commit records its data-file schema,
  * every read scans with it (no inference job), and a scoped commit
  * cannot slip a different schema under the carried files.
  */
class ManifestSchemaSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graftmanifest").toString

  /** What Spark infers over the data dirs of `keys` in version `v` —
    * the same scan shape the table uses, minus the recorded schema.
    */
  private def inferred(t: SnapshotTable, v: Long, keys: Seq[String]): StructType = {
    val parts = t.partitionsOf(v)
    val dirs = keys.sorted.map(k => k -> s"${t.root}/${parts(k)}")
    if (t.bucket.isDefined) spark.read.parquet(dirs.map(_._2): _*).schema
    else dirs.map { case (k, d) =>
      val df = spark.read.parquet(d)
      t.partitionCol.fold(df)(c => df.withColumn(c, lit(k)))
    }.reduce(_ unionByName _).schema
  }

  /** Jobs started by `f` on this thread. */
  private def jobsIn(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"manifest-${System.nanoTime()}"
    sc.setJobGroup(group, "reads")
    try f finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  /** The four table kinds, each with a scoped (or second full) v2 on top
    * of v1, paired with one of their logical partition values.
    */
  private def tables(root: String): Seq[(String, SnapshotTable, String)] = {
    val stage = SnapshotTable(spark, s"$root/stage", None)
    val pages = (0 until 50).map(i => (s"u$i", if (i % 3 == 0) "de" else "en", i, i * 0.5))
      .toDF("url", "lang", "n", "score")
    stage.commit(pages, 1L)
    stage.commit(pages.limit(20), 2L)

    val nodes = GraphTables.nodes(spark, root, buckets = 4)
    val page = NodeSchema("Page", RowRef("id"), properties = Map("lang" -> RowRef("lang")))
    val noEdges = GraphTables.edges(spark, s"$root/unused")
    GraphMerge.load(spark, pages.select(col("url").as("id"), col("lang")), page,
      Map.empty, 1L, nodes, noEdges, collectStats = false)
    GraphMerge.load(spark, Seq(("u7", "fr")).toDF("id", "lang"), page,
      Map.empty, 2L, nodes, noEdges, collectStats = false)

    val edges = GraphTables.edges(spark, root, buckets = 4)
    def edgeRows(n: Int, tag: Long): DataFrame = (0 until n).map(i =>
      ("Page", s"u$i", if (i % 2 == 0) "MENTIONS" else "LINKS", "Entity", s"e${i % 7}",
        Map("n" -> i.toString), tag, tag))
      .toDF("src_label", "src_id", "rel_label", "dst_label", "dst_id", "props",
        "firstseen", "lastupdated")
    edges.commit(edgeRows(40, 1L), 1L)
    edges.commitPartitions(edgeRows(10, 2L), 2L, Seq("MENTIONS"))

    val flat = SnapshotTable(spark, s"$root/flat", Some("kind"))
    def flatRows(n: Int): DataFrame = (0 until n).map(i =>
      (if (i % 2 == 0) "a" else "b", i.toLong, Seq(s"t$i"), i % 5 == 0))
      .toDF("kind", "id", "tags", "flag")
    flat.commit(flatRows(30), 1L)
    flat.commitPartitions(flatRows(6).filter(col("kind") === "a"), 2L, Seq("a"))

    Seq(("stage", stage, "all"), ("nodes", nodes, "Page"),
      ("edges", edges, "MENTIONS"), ("flat", flat, "a"))
  }

  test("read, readPartition, readPhysical and readVersion return the inferred schema, with no job") {
    tables(tmp()).foreach { case (kind, t, logical) =>
      val v = t.latestVersion.get
      assert(v === 2L, kind)
      val all = t.partitionsOf(v).keys.toSeq
      val ofLogical = all.filter(k => k == logical || k.startsWith(logical + "~b"))
      assert(ofLogical.nonEmpty, kind)
      val one = ofLogical.head
      var got = Seq.empty[StructType]
      val jobs = jobsIn {
        got = Seq(t.read().schema, t.readPartition(logical).get.schema,
          t.readPhysical(Seq(one)).get.schema, t.readVersion(1L).schema)
      }
      assert(jobs === 0, s"$kind: reads must not start an inference job")
      val want = Seq(inferred(t, v, all), inferred(t, v, ofLogical),
        inferred(t, v, Seq(one)), inferred(t, 1L, t.partitionsOf(1L).keys.toSeq))
      got.zip(want).zip(Seq("read", "readPartition", "readPhysical", "readVersion"))
        .foreach { case ((g, w), op) => assert(g === w, s"$kind.$op") }
    }
  }

  test("a scoped commit whose schema differs by field name or type fails fast; column order may differ") {
    val root = tmp()
    val byKind = tables(root).map { case (k, t, l) => k -> (t, l) }.toMap
    for (kind <- Seq("nodes", "edges", "flat")) {
      val (t, logical) = byKind(kind)
      val v = t.latestVersion.get
      val state = t.read()
      val key = t.partitionsOf(v).keys.filter(_.startsWith(logical)).head
      val col0 = state.columns.find(c => !t.partitionCol.contains(c)).get
      val renamed = state.withColumnRenamed(col0, col0 + "_x")
      val retyped = state.withColumn(col0, lit(1.5))
      for ((what, bad) <- Seq("renamed" -> renamed, "retyped" -> retyped)) {
        val e = intercept[IllegalArgumentException](t.commitPhysical(bad, 9L, Seq(key)))
        assert(e.getMessage.contains(t.root), s"$kind $what: ${e.getMessage}")
        assert(t.latestVersion === Some(v), s"$kind $what: nothing may be committed")
      }
      // same fields in another order: the scan resolves by name
      val reordered = state.select(state.columns.reverse.map(col): _*)
      t.commitPhysical(reordered, 9L, Seq(key))
      assert(t.read().count() === state.count(), kind)
    }
  }

  test("a manifest without its schema field fails with the table root in the message") {
    val root = tmp()
    val t = SnapshotTable(spark, s"$root/t", Some("kind"))
    t.commit(Seq(("a", 1L), ("b", 2L)).toDF("kind", "id"), 1L)
    val mf = Paths.get(t.root, "_manifest", "v1.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val m = mapper.readTree(Files.readString(mf))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    assert(m.has("schema"), "every commit records its schema")
    m.remove("schema")
    Files.writeString(mf, mapper.writeValueAsString(m))
    val e = intercept[RuntimeException](t.read())
    assert(e.getMessage.contains(t.root) && e.getMessage.contains("schema"), e.getMessage)
  }
}
