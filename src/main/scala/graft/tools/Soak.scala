package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Graft
import graft.kg.{Corpus, KgPipeline}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** sf1 soak harness — one order of magnitude of DIRECT scale evidence
  * above the driver's sf0.1 (the 100 TB claims should not rest on
  * extrapolation alone):
  *
  *  1. synthesizes a deterministic sf1 table set (default /tmp/sf1) by
  *     replicating sf0.1's documents/events/embeddings `mult`× with
  *     DENSE key offsets (k·maxKey+1 per replica — ids stay compact, so
  *     fixture arithmetic like the dedup corpus's +100000 copy offset
  *     keeps its semantics) and copying the TPC-H tables verbatim; no
  *     external data, rerunnable, byte-stable;
  *  2. times the heaviest operator queries over the scaled dir (noop
  *     sink — full plan, discarded rows);
  *  3. runs the KG pipeline once at `SPARK_GRAFT_KG_REPLICAS` (default
  *     1800 ≈ 9M pages at sf0.1's corpus recipe), reporting pages/s.
  *
  * Output: one JSON line. Correctness at sf1 is checked separately by
  * pointing `graft.Verify` + the DuckDB oracle at the scaled dir — the
  * oracle SQL is scale-free, so the same gate applies.
  *
  * args: [srcSfDir] [outDir] [mult]
  */
object Soak {

  private def timed[A](f: => A): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private val heavy = Seq(
    "qkg10_pagerank", "qkg17_labelprop", "qkg18_kcore",
    "qdd4_minhash_lsh", "qtx17_segment_dedup", "qtx19_vocab_growth",
    "qev10_rfm", "qsp8_token_budget", "qann1_topk", "qmm5_image_neardup")

  /** Write `df` as the SINGLE parquet file `out/name.parquet` — the
    * driver's testdata layout (and what the DuckDB oracle reads).
    */
  private def writeOne(df: DataFrame, out: String, name: String): Unit = {
    val tmp = s"$out/_tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val tmpDir = java.nio.file.Paths.get(tmp)
    val moved = Using.resource(java.nio.file.Files.list(tmpDir)) { parts =>
      parts.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .map(p => java.nio.file.Files.move(p,
          java.nio.file.Paths.get(s"$out/$name.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING))
        .isDefined
    }
    require(moved, s"no parquet part written for $name")
    graft.snapshot.SnapshotTable.deleteTree(tmpDir)
  }

  def synth(spark: SparkSession, src: String, out: String,
            mult: Int): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    val reps = spark.range(0, mult).select(col("id").as("k"))
    def scale(name: String, keyCols: Seq[String],
              tweak: DataFrame => DataFrame = identity): Unit = {
      val t = Graft.table(spark, src, name)
      val maxes = keyCols.map(c =>
        c -> (t.agg(max(col(c))).head().getLong(0) + 1L))
      var scaled = t.crossJoin(broadcast(reps))
      maxes.foreach { case (c, n) =>
        scaled = scaled.withColumn(c, col(c) + col("k") * lit(n))
      }
      writeOne(tweak(scaled).drop("k"), out, name)
    }
    // replica text gets a one-token tail: ×mult EXACT copies of every
    // document would make each dedup/LSH group mult× deeper than sf0.1's
    // (pairs grow quadratically in group depth — a fixture artifact, not
    // a corpus shape); a distinct tail keeps the duplicate structure the
    // operators were designed against while still scaling the volume
    scale("documents", Seq("doc_id"), df =>
      df.withColumn("text",
        when(col("k") > 0, concat(col("text"), lit(" zzrep"), col("k")))
          .otherwise(col("text"))))
    scale("events", Seq("event_id", "user_id"))
    scale("embeddings", Seq("vec_id"))
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem").foreach(t => writeOne(Graft.table(spark, src, t), out, t))
  }

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/sf1")
    val mult = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val replicas = sys.env.getOrElse("SPARK_GRAFT_KG_REPLICAS", "1800").toInt
    val noise = sys.env.getOrElse("SPARK_GRAFT_KG_NOISE", "14000").toInt
    // 64 shuffle partitions (not the library's 32): the soak tables are
    // 10x the test rig's — exactly the knob BASELINE.md says to turn
    val spark = Graft.session(s"local[$cpus]", 64, "graft-soak")

    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(out)) ||
      sys.env.get("SPARK_GRAFT_SOAK_RESYNTH").contains("1")) {
      val sec = timed(synth(spark, src, out, mult))
      System.err.println(f"[soak] synthesized $out (${mult}x $src) in $sec%.1f s")
    }

    val qtimes = heavy.map { name =>
      val sec = timed(graft.SparkEntry.queries(name)(spark, out)
        .write.format("noop").mode("overwrite").save())
      System.err.println(f"[soak] $name: $sec%.1f s")
      name -> sec
    }

    val work = Graft.scratchDir("kgsoak")
    val pipe = new KgPipeline(spark, work)
    val pages = Corpus.pages(spark, src, replicas, noise, repOffset = 0,
      minParts = cpus * 12)
    val kgSec = timed(pipe.run(pages, Corpus.aliasRows, 100L,
      mergeGraph = true))
    val np = graft.snapshot.SnapshotTable(spark, s"$work/stage_extract", None)
      .rowCount()
    val nt = graft.snapshot.SnapshotTable(spark, s"$work/stage_triples", None)
      .rowCount()
    val qs = qtimes.map { case (k, v) => f""""$k":$v%.3f""" }
      .mkString("{", ",", "}")
    println(
      f"""{"metric":"soak","sf":"${mult}x sf0.1","cpus":$cpus,"queries":$qs,"kg_pages":$np,"kg_triples":$nt,"kg_sec":$kgSec%.1f,"kg_pages_per_sec":${np / kgSec}%.1f,"kg_triples_per_sec":${nt / kgSec}%.1f}""")
    spark.stop()
  }
}
