package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextIndex}
import graft.tools.SynthFixtures

/** The stored-index lifecycle of `graft.sources` (`StoredIndex`,
  * `IndexCommit`), measured in the traced run of `analytics`: a seeded
  * synthetic corpus (Zipf documents with planted exact and near duplicates,
  * clustered embeddings), materialized before anything is timed, under two
  * index families: `bm25` (text) and `ivfpq` (vectors). The other two,
  * `lsh` (MinHash-LSH) and `curate`, are left out: each would add 20-25 s
  * to a traced run that must end within the run time limit.
  *
  * Each family is built, serves an arrival batch through its route, runs
  * one churn cycle (append a delta, tombstone deletes, compact) and serves
  * the batch again. Every step is one timed call; the checks after churn compare the
  * served state with a fresh build over the live corpus wherever the
  * family's spec asserts that equality.
  */
final class Sources(ctx: Ctx) {
  import Sources._

  private val serveMs = mutable.ArrayBuffer.empty[(String, Double)] // (family, ms)
  private val stepS = mutable.Map.empty[(String, String), Double]  // (family, step) -> s
  private val lastServe = mutable.Map.empty[String, Array[Row]]    // family -> rows
  private val root = ctx.work.resolve("sources")
  private def idx(f: String): String = root.resolve(s"index/$f").toString
  private def data(n: String): String = root.resolve(s"data/$n").toString

  /** Seeded corpus (base + delta) and embeddings. */
  private def materialize(): Unit = {
    val spark = ctx.spark
    val seed = ctx.seed
    val all = SynthFixtures.zipfDocsVar(spark, Docs + DeltaDocs, seed = seed)
    // planted duplicates: a seeded share of docs copy an earlier doc's
    // text, exactly or with the last token replaced (a near duplicate)
    val h = pmod(xxhash64(col("doc_id"), lit(seed)), lit(100L))
    val src = all.select(col("doc_id").as("src_id"), col("text").as("src"))
    all.withColumn("src_id", pmod(xxhash64(col("doc_id"), lit(seed + 1)), lit(Docs)))
      .join(src, Seq("src_id"), "left")
      .select(col("doc_id"),
        when(col("src_id") < col("doc_id") && h < DupPct / 2, col("src"))
          .when(col("src_id") < col("doc_id") && h < DupPct,
            regexp_replace(col("src"), " \\S+$", " zzplanted"))
          .otherwise(col("text")).as("text"))
      .write.mode("overwrite").parquet(data("docs"))
    SynthFixtures.clusteredEmbeddings(spark, Vecs + DeltaVecs, seed = seed)
      .write.mode("overwrite").parquet(data("emb"))
  }

  private lazy val docs = ctx.spark.read.parquet(data("docs"))
  private lazy val emb = ctx.spark.read.parquet(data("emb"))
  private def base = docs.filter(col("doc_id") < Docs)
  private def delta = docs.filter(col("doc_id") >= Docs)
  private def dead(df: DataFrame, id: String) =
    df.filter(pmod(xxhash64(col(id), lit(ctx.seed + 5)), lit(100L)) < DeletePct).select(id)
  private def deadDocs = dead(base, "doc_id")
  private def deadVecs = dead(emb.filter(col("vec_id") < Vecs), "vec_id")

  /** An arrival batch (BM25 queries, IVF-PQ probes), cached before
    * anything is timed.
    */
  private def cached(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }
  private lazy val queries = cached(SynthFixtures.zipfQueries(ctx.spark, BatchRows, seed = ctx.seed + 1))
  // probes share the corpus's cluster centres (same seed), new noise (new ids)
  private lazy val probes = cached(
    SynthFixtures.clusteredEmbeddings(ctx.spark, ArrivalBase + BatchRows, seed = ctx.seed)
      .filter(col("vec_id") >= ArrivalBase))

  /** One family's serve of its arrival batch from `dir`, collected. */
  private def serve(family: String, dir: String): Array[Row] = family match {
    case "bm25" => TextIndex.bm25Route(queries, dir, k = TopK)
      .select("qid", "rank", "doc_id", "score").collect()
    case "ivfpq" => Similarity.pqRoute(probes, dir, k = TopK, nprobe = 5, rerank = 8)
      .select("qid", "nid").collect()
  }

  private def build(family: String, dir: String, d: DataFrame): Unit = family match {
    case "bm25" => TextIndex.writeBm25Index(d, dir)
    case "ivfpq" => Similarity.ivfWriteIndex(emb.filter(col("vec_id") < Vecs), dir, pqM = 16, pqK = 16)
  }

  private def append(family: String, dir: String): Unit = family match {
    case "bm25" => TextIndex.appendBm25Index(delta, dir)
    case "ivfpq" => Similarity.appendIvfIndex(emb.filter(col("vec_id") >= Vecs), dir)
  }

  private def delete(family: String, dir: String): Unit = family match {
    case "bm25" => TextIndex.deleteFromBm25Index(deadDocs, dir)
    case "ivfpq" => Similarity.deleteFromIvfIndex(deadVecs, dir)
  }

  private def compact(family: String, dir: String): Unit = family match {
    case "bm25" => TextIndex.compactBm25Index(ctx.spark, dir, maxFiles = 1)
    case "ivfpq" => Similarity.compactIvfIndex(ctx.spark, dir, maxFilesPerCell = 1)
  }

  /** One timed call of one family; a throw is a failed operation. */
  private def step(family: String, name: String)(body: => Unit): Unit =
    ctx.tracer.span("call", s"$family.$name") {
      ctx.record.attempted += 1
      val t0 = System.nanoTime()
      try body
      catch { case e: Throwable => ctx.record.fail(s"sources: $family $name failed: $e") }
      stepS((family, name)) = (System.nanoTime() - t0) / 1e9
    }

  /** Every family serves its arrival batch once; each serve is timed. */
  private def serveAll(): Unit = for (f <- Families) {
    ctx.record.attempted += 1
    ctx.tracer.span("call", s"$f.serve") {
      val t0 = System.nanoTime()
      try lastServe(f) = serve(f, idx(f))
      catch { case e: Throwable => ctx.record.fail(s"sources: $f serve failed: $e") }
      serveMs += ((f, (System.nanoTime() - t0) / 1e6))
    }
  }

  def run(): Unit = {
    val tr = ctx.tracer
    tr.span("phase", "sources-materialize") { materialize(); queries; probes }
    tr.span("phase", "sources-build")(Families.foreach(f => step(f, "build")(build(f, idx(f), base))))
    tr.span("phase", "sources-serve")(serveAll())
    tr.span("phase", "sources-churn") {
      for (s <- Seq("append", "delete", "compact"); f <- Families)
        step(f, s)(s match {
          case "append" => append(f, idx(f))
          case "delete" => delete(f, idx(f))
          case "compact" => compact(f, idx(f))
        })
    }
    // the serve after churn is the one the checks compare
    tr.span("phase", "sources-serve-after")(serveAll())
    tr.span("phase", "sources-check")(check())
    report()
  }

  /** After churn: BM25 must serve exactly what a fresh build over the live
    * corpus serves (its spec asserts this). IVF-PQ is approximate: it must
    * serve no deleted vector, and its recall@k against exact cosine search
    * over the live vectors is reported.
    */
  private def check(): Unit = {
    val rec = ctx.record
    rec.attempted += 1
    val freshDir = root.resolve("fresh/bm25").toString
    build("bm25", freshDir, docs.join(deadDocs, Seq("doc_id"), "left_anti"))
    val got = lastServe.getOrElse("bm25", Array.empty[Row]).map(_.toString).sorted.toSeq
    val want = serve("bm25", freshDir).map(_.toString).sorted.toSeq
    if (got != want)
      rec.fail(s"sources: bm25 after churn differs from a fresh build over the live corpus " +
        s"(${got.diff(want).take(2).mkString(" ")} vs ${want.diff(got).take(2).mkString(" ")})")

    rec.attempted += 1
    val deadV = deadVecs.collect().map(_.getLong(0)).toSet
    val servedV = lastServe.getOrElse("ivfpq", Array.empty[Row])
    if (servedV.exists(r => deadV(r.getLong(1)))) rec.fail("sources: ivfpq served a deleted vector")
    val liveV = emb.collect().filterNot(r => deadV(r.getLong(0)))
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val byQ = servedV.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val probeRows = probes.collect()
    val hits = probeRows.map { r =>
      val q = r.getSeq[Float](1).map(_.toDouble).toArray
      val exact = liveV.map { case (id, v) => id -> cosine(q, v) }
        .sortBy { case (id, c) => (-c, id) }.take(TopK).map(_._1).toSet
      byQ.getOrElse(r.getLong(0), Set.empty[Long]).count(exact)
    }
    ctx.record.put("sources.ivfpq.recall_at_k", hits.sum.toDouble / (TopK * probeRows.length), "ratio")
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  /** (bytes, files) of the data files under `dir`. */
  private def tree(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala
        .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.endsWith(".crc")).toSeq
      (files.map(Files.size).sum, files.size.toLong)
    }
  }

  private def report(): Unit = {
    val rec = ctx.record
    var indexBytes = 0L
    for (f <- Families) {
      for (s <- Seq("build", "append", "delete", "compact"))
        rec.put(s"sources.$f.${s}_s", stepS.getOrElse((f, s), 0.0), "s")
      rec.put(s"sources.$f.serve_ms_p50", Stats.median(serveMs.filter(_._1 == f).map(_._2).toSeq), "ms")
      val (bytes, files) = tree(idx(f))
      indexBytes += bytes
      rec.put(s"sources.$f.bytes", bytes.toDouble, "bytes")
      rec.put(s"sources.$f.files", files.toDouble, "count")
    }
    rec.put("sources.bytes_per_doc_byte",
      indexBytes.toDouble / (tree(data("docs"))._1 + tree(data("emb"))._1), "ratio")
  }
}

object Sources {
  val Families: Seq[String] = Seq("bm25", "ivfpq")
  val Docs = 2000L
  val DeltaDocs = 200L
  val Vecs = 1500L
  val DeltaVecs = 150L
  val DupPct = 6L // planted duplicates, half exact, half near
  val DeletePct = 2L
  val BatchRows = 50L
  val TopK = 10
  val ArrivalBase = 1000000L

  /** Per-layer metric names with units, for [[PerLayer]]. */
  val metrics: Seq[(String, String)] = Families.flatMap { f =>
    Seq("build_s", "append_s", "delete_s", "compact_s").map(s => s"sources.$f.$s" -> "s") ++
      Seq(s"sources.$f.serve_ms_p50" -> "ms", s"sources.$f.bytes" -> "bytes",
        s"sources.$f.files" -> "count")
  } ++ Seq("sources.ivfpq.recall_at_k" -> "ratio", "sources.bytes_per_doc_byte" -> "ratio")
}
