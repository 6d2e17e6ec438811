package graft.pipeline

import graft.operators.DedupOps
import graft.sources.RunLog
import graft.sources.ParquetUpsertSink.SinkStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-corpus builder — the composed, executable form
  * of the reference's run-everything script (`etl_pipeline_script.py`:
  * extract → normalize → dedup-gated load → per-run logs), re-targeted
  * at the LLM-data flow the individual operators implement piecewise:
  *
  *   clean → PII-scrub → quality-filter → exact-dedup → near-dup-dedup
  *   → deterministic split → partitioned write, with per-stage counts
  *   in a [[RunLog]] record (inserted = kept, deleted = dropped).
  *
  * Every stage is one of the library's audited shapes (q54/q64 column
  * expressions, the q52 repetition aggregate, q23 hash dedup, the
  * q29/q31/q61 banded-verify-cluster chain, the q69 hash split), so
  * the pipeline inherits their scale properties: per-row column work,
  * one aggregate per filter, ids-only candidate joins, zero
  * rand()/driver loops — a run is reproducible bit-for-bit, and a doc
  * never migrates between splits as the corpus grows.
  *
  * Stages checkpoint between steps (each is counted for the audit —
  * the materialization IS the count) and the kept set only shrinks, so
  * wall cost is ≤ stages × one corpus pass at the current (shrinking)
  * size.
  */
object CorpusPipeline {

  /** Gopher-style knobs: minimum token count, maximum top-token share
    * (per-mille, integer — no float threshold), near-dup Jaccard,
    * semantic-dedup cosine (applies when embeddings are supplied), and
    * the decontamination near-dup floor in integer thousandths
    * (applies when a benchmark set is supplied).
    */
  final case class Config(minTokens: Long = 3, maxTopSharePerMille: Long = 500,
    nearDupJaccard: Double = 0.8, semDedupCosine: Double = 0.95,
    contamJaccardPpt: Long = 500L)

  final case class Result(report: DataFrame, corpusDir: String,
    runLogPath: String)

  /** Run the pipeline over `docs(doc_id, text, lang, source)`; writes
    * the kept corpus split-partitioned under `outDir/corpus` and the
    * run record under `outDir/runlog`. Returns the per-stage report.
    *
    * Optional stages (the full published recipe):
    *   - `embeddings(vec_id, embedding)` keyed by doc_id adds SEMANTIC
    *     dedup after the lexical near-dup pass: sign-LSH bucketed
    *     cosine pairs ≥ semDedupCosine (the q36 machinery — paraphrase
    *     / re-crawl duplicates lexical dedup can't see) → min-label
    *     components → keep canonicals. Pairwise-exact semantics so the
    *     integration test can pin planted same-embedding twins; q75's
    *     cell-representative form is the coarser corpus-scale variant.
    *   - `benchmark(doc_id, text)` adds DECONTAMINATION before the
    *     split: drop survivors sharing any word shingle with the
    *     benchmark (q62's broadcast shape) or near-duplicating it at
    *     ≥ contamJaccardPpt (q84's banded cross-corpus match) — eval
    *     questions never reach a training split.
    */
  def run(spark: SparkSession, docs: DataFrame, outDir: String,
      cfg: Config = Config(), embeddings: Option[DataFrame] = None,
      benchmark: Option[DataFrame] = None): Result = {
    import spark.implicits._
    val log = new RunLog("corpus-" +
      java.util.UUID.randomUUID.toString.take(8))
    val stages =
      scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    def stage(name: String, in: DataFrame)(body: DataFrame => DataFrame)
        : DataFrame = {
      var out: DataFrame = null
      log.step(name) {
        val nIn = in.count()
        out = body(in).localCheckpoint(false)
        val nOut = out.count()
        stages += ((name, nIn, nOut))
        SinkStats(inserted = nOut, updated = 0L, deleted = nIn - nOut)
      }
      out
    }

    val input = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .localCheckpoint(false)

    // q54 cleaning + q64 PII scrub as one per-row column pass
    val cleaned = stage("clean_scrub", input) { d =>
      val c = lower(trim(regexp_replace(
        regexp_replace(col("text"), "[^\\x20-\\x7e]", " "), "\\s+", " ")))
      val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val numRe = "[0-9]{7,}"
      d.select(col("doc_id"), col("lang"), col("source"),
          regexp_replace(regexp_replace(c, emailRe, "<EMAIL>"), numRe,
            "<NUM>").as("text"))
        .filter(length(col("text")) > 0)
    }

    // q52 repetition signals, integer thresholds (no float compare)
    val quality = stage("quality_filter", cleaned) { d =>
      val perTok = d.select(col("doc_id"),
          explode(split(col("text"), "\\s+")).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      val sig = perTok.groupBy(col("doc_id"))
        .agg(sum(col("c")).cast("long").as("n_tokens"),
          max(col("c")).cast("long").as("top_freq"))
      d.join(sig, "doc_id")
        .filter(col("n_tokens") >= cfg.minTokens &&
          col("top_freq") * 1000 <= lit(cfg.maxTopSharePerMille) *
            col("n_tokens"))
        .select("doc_id", "text", "lang", "source")
    }

    // q23: one survivor (min doc_id) per normalized content hash
    val exact = stage("exact_dedup", quality) { d =>
      val keep = d
        .select(col("doc_id"), md5(encode(col("text"), "UTF-8")).as("h"))
        .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      d.join(keep, Seq("doc_id"), "left_semi")
    }

    // q29/q31/q61: banded candidates → exact-Jaccard verify → CC →
    // keep component canonicals (ids-only joins throughout)
    val nearDup = stage("neardup_dedup", exact) { d =>
      val pairs = DedupOps.ngramJaccardVerify(d.select("doc_id", "text"))
        .filter(col("jaccard") >= cfg.nearDupJaccard)
      val clusters = DedupOps.dedupClusters(pairs)
        .filter(col("doc_id") =!= col("canonical_id"))
        .select("doc_id")
      d.join(clusters, Seq("doc_id"), "left_anti")
    }

    // q36/q61 over embeddings: semantic twins (paraphrase, re-crawl,
    // translation) that lexical shingles can't see; ids-only bucket
    // join, exact rounded cosine verify, min-id canonical survives
    val semantic = embeddings.fold(nearDup) { emb =>
      stage("semantic_dedup", nearDup) { d =>
        val sub = emb
          .join(d.select(col("doc_id").as("vec_id")), Seq("vec_id"),
            "left_semi")
          .localCheckpoint(false)
        // the stage already counts its input; the subset count here
        // sizes the LSH buckets (stands in for the catalog row count)
        val pairs = graft.operators.SimilarityOps
          .embedNearDup(spark, sub, sub.count())
          .filter(col("cos_sim") >= cfg.semDedupCosine)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
        val losers = DedupOps.dedupClusters(pairs)
          .filter(col("doc_id") =!= col("canonical_id"))
          .select("doc_id")
        d.join(losers, Seq("doc_id"), "left_anti")
      }
    }

    // q62 + q84: benchmark decontamination — exact shingle overlap
    // (broadcast benchmark shingles, corpus never shuffles) plus
    // banded near-dup leakage (paraphrased eval questions)
    val decontaminated = benchmark.fold(semantic) { bench =>
      stage("decontaminate", semantic) { d =>
        val b = bench.select("doc_id", "text").localCheckpoint(false)
        val exactHits = DedupOps
          .contamination(d.select("doc_id", "text"), b)
          .select("doc_id")
        val nearHits = DedupOps
          .nearDupContamination(d.select("doc_id", "text"), b,
            cfg.contamJaccardPpt)
          .select(col("train_doc").as("doc_id"))
        d.join(exactHits.unionByName(nearHits).distinct(),
          Seq("doc_id"), "left_anti")
      }
    }

    // q69: stable md5 hash split — a doc never migrates as data grows
    val split9055 = stage("split", decontaminated) { d =>
      d.withColumn("_h",
          md5(encode(col("doc_id").cast("string"), "UTF-8")))
        .withColumn("split",
          when(col("_h") < "e666", "train")
            .when(col("_h") < "f333", "val").otherwise("test"))
        .drop("_h")
    }

    val corpusDir = s"$outDir/corpus"
    log.step("write") {
      split9055.write.mode("overwrite").partitionBy("split")
        .parquet(corpusDir)
      SinkStats(inserted = stages.last._3, updated = 0L, deleted = 0L)
    }
    val path = log.write(spark, s"$outDir/runlog")
    Result(stages.toSeq.toDF("stage", "docs_in", "docs_out"),
      corpusDir, path)
  }
}
