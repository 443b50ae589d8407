package graft.operators

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Cross-run incremental near-dup dedup — the reference's rebuild-only-stale
  * artifact discipline (artifacts/planning.py:40, artifacts/executor.py
  * run_build_if_needed) applied to a minhash signature index. A real
  * training pipeline dedups each new crawl INCREMENT against the existing
  * corpus without recomputing the corpus's signatures; this module persists
  * the per-text minhash state as a generation-append index:
  *
  * {{{
  * indexDir/
  *   reps/gen=N/        (digest, rep_id): the NEW distinct shingleable
  *                      texts generation N introduced
  *   members/gen=N/     (id, rep_id): EVERY doc generation N ingested,
  *                      mapped to its text's representative
  *   signatures/gen=N/  (id, sh, sig) for generation N's new reps ONLY
  *   edges/gen=N/       verified near-dup pairs contributed by gen N
  *                      (within-new ∪ new-×-stored, reps only)
  *   meta.json          params + committed generations — written LAST,
  *                      atomically, so a crashed update is invisible
  * }}}
  *
  * Incrementality is TWO-LEVEL, which is what makes it hold on real crawls
  * (mostly exact re-crawls of the existing corpus): an increment doc whose
  * text digest is already in the stored rep map becomes a membership row
  * and computes NOTHING; only new DISTINCT shingleable texts compute
  * signatures, bucket-join the stored band keys for cross-run candidates,
  * and verify exact Jaccard on candidates. Stored generations are read,
  * never recomputed or rewritten (ArtifactGraphSpec pins both properties).
  * Updates are idempotent by generation key — re-submitting a committed key
  * is a no-op, the freshness check of the artifact story. Docs too short to
  * shingle are their own representatives and never enter the rep map:
  * identical short docs must stay separate singletons, exactly as
  * [[Dedup.dupClusters]] leaves them.
  *
  * [[clusters]] equals from-scratch [[Dedup.dupClusters]] on the union
  * corpus: components are sets of TEXT-GROUPS (identical texts carry
  * identical shingle sets, so which doc represents a group cannot change
  * the verified edge set), membership attaches every doc to its group, and
  * cluster_id/size recompute as min-id/count over the component's members —
  * the same labeling dupClusters produces.
  *
  * Scale posture: the index is O(distinct texts) parquet; an update's work
  * is O(increment) digests + O(new distinct texts) signatures + bucket
  * collisions against the index — never O(corpus). The CC pass reruns over
  * the rep edge graph (candidate-sized); the member attach is one
  * digest-keyed join.
  */
object IncrementalDedup {

  final case class Params(shingleSize: Int = 3, numPerm: Int = 64,
                          bands: Int = 16, threshold: Double = 0.5)

  final case class Generation(gen: Int, key: String, nDocs: Long)

  final case class Meta(idCol: String, textCol: String, params: Params,
                        gens: Seq[Generation])

  /** newSignatures counts the signatures this update computed = the NEW
    * distinct shingleable texts — an exact-dup-only increment reports 0.
    */
  final case class UpdateReport(gen: Int, newSignatures: Long,
                                newEdges: Long, skipped: Boolean)

  private def metaFile(indexDir: Path): Path = indexDir.resolve("meta.json")
  private def dir(indexDir: Path, kind: String, gen: Int): Path =
    indexDir.resolve(kind).resolve(s"gen=$gen")

  // ---------------------------------------------------------------- meta io

  private def saveMeta(indexDir: Path, m: Meta): Unit = {
    import graft.sources.Runs.jsonStr
    val gens = m.gens.sortBy(_.gen).map { g =>
      s"""{"gen": ${g.gen}, "key": ${jsonStr(g.key)}, "n_docs": ${g.nDocs}}"""
    }.mkString("[", ", ", "]")
    val json =
      s"""{"version": 2, "id_col": ${jsonStr(m.idCol)},
         | "text_col": ${jsonStr(m.textCol)},
         | "shingle_size": ${m.params.shingleSize},
         | "num_perm": ${m.params.numPerm}, "bands": ${m.params.bands},
         | "threshold": ${m.params.threshold}, "gens": $gens}""".stripMargin
    Files.createDirectories(indexDir)
    val tmp = metaFile(indexDir).resolveSibling(
      s".meta-${java.util.UUID.randomUUID().toString.take(8)}.json.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, metaFile(indexDir),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def loadMeta(indexDir: Path): Option[Meta] = {
    if (!Files.exists(metaFile(indexDir))) return None
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(metaFile(indexDir)))
    import scala.jdk.CollectionConverters._
    val gens = tree.get("gens").elements().asScala.map { g =>
      Generation(g.get("gen").asInt(), g.get("key").asText(),
        g.get("n_docs").asLong())
    }.toSeq
    Some(Meta(tree.get("id_col").asText(), tree.get("text_col").asText(),
      Params(tree.get("shingle_size").asInt(), tree.get("num_perm").asInt(),
        tree.get("bands").asInt(), tree.get("threshold").asDouble()), gens))
  }

  // ---------------------------------------------------------------- update

  /** Ingest one increment under `genKey`. Stored generations are read-only
    * inputs; signatures are computed for the increment's NEW DISTINCT
    * shingleable texts only. Re-submitting a committed key skips all work.
    */
  def update(spark: SparkSession, indexDir: Path, increment: DataFrame,
             textCol: String, idCol: String, genKey: String,
             params: Params = Params()): UpdateReport =
    graft.sources.Hygiene.withFileLock(
      indexDir.resolve("_system").resolve("index.lock"),
      s"Another graft dedup-index update is using '$indexDir'.") {
      updateLocked(spark, indexDir, increment, textCol, idCol, genKey, params)
    }

  private def updateLocked(spark: SparkSession, indexDir: Path,
                           increment: DataFrame, textCol: String,
                           idCol: String, genKey: String,
                           params: Params): UpdateReport = {
    val meta = loadMeta(indexDir)
    meta.foreach { m =>
      require(m.params == params && m.idCol == idCol && m.textCol == textCol,
        s"dedup index '$indexDir' was built with ${m.params} over " +
          s"(${m.idCol}, ${m.textCol}); refusing to mix with $params over " +
          s"($idCol, $textCol) — signatures would be incomparable")
    }
    meta.flatMap(_.gens.find(_.key == genKey)) match {
      case Some(g) => UpdateReport(g.gen, 0L, 0L, skipped = true)
      case None    => ingest(spark, indexDir, increment, textCol, idCol,
        genKey, params, meta)
    }
  }

  private def ingest(spark: SparkSession, indexDir: Path,
                     increment: DataFrame, textCol: String, idCol: String,
                     genKey: String, params: Params,
                     meta: Option[Meta]): UpdateReport = {
    val gen = meta.map(_.gens.map(_.gen).max + 1).getOrElse(1)
    val storedGens = meta.map(_.gens.map(_.gen)).getOrElse(Nil)
    def storedUnion(kind: String): Option[DataFrame] = storedGens match {
      case Nil  => None
      case gens => Some(spark.read.parquet(
        gens.map(g => dir(indexDir, kind, g).toString): _*))
    }

    // digest (the corpus journey's) + shingleability once per doc; the
    // frame feeds the rep join, the member map and the new-rep signature
    // build
    val inc = increment.select(col(idCol), col(textCol),
      Text.textDigest(col(textCol)).as("__d"),
      (size(Text.tokens(col(textCol))) >= params.shingleSize).as("__ok"))
      .localCheckpoint(eager = false)

    // LEVEL 1: docs whose text the index already knows become membership
    // rows — zero signature work. (Only shingleable texts live in the rep
    // map, and shingleability is a function of the text, so a digest match
    // implies a shingleable doc.)
    val storedReps = storedUnion("reps")
    val joined = storedReps match {
      case None     => inc.withColumn("rep_id", lit(null).cast("long"))
      case Some(sr) => inc.join(sr, Seq("__d"), "left")
    }
    val matched = joined.where(col("rep_id").isNotNull)
      .select(col(idCol), col("rep_id"))
    // LEVEL 2: new texts collapse to a min-id representative per digest;
    // docs too short to shingle are their own reps and never join the map
    val byDigest = Window.partitionBy(col("__d"))
    val fresh = joined.where(col("rep_id").isNull)
      .select(col(idCol), col(textCol), col("__d"), col("__ok"),
        when(col("__ok"), min(col(idCol)).over(byDigest))
          .otherwise(col(idCol)).as("__rep"))
      .localCheckpoint(eager = false) // feeds reps, members AND signatures
    val newRepDocs = fresh
      .where(col(idCol) === col("__rep") && col("__ok"))

    // the ONLY signature computation this update runs — written first
    // (invisible until the meta commit), read back so candidates and
    // verification reuse the stored bytes
    Dedup.signedShingles(newRepDocs.select(col(idCol), col(textCol)),
      textCol, idCol, params.shingleSize, params.numPerm)
      .write.mode("overwrite").parquet(dir(indexDir, "signatures", gen).toString)
    val mySigs = spark.read.parquet(dir(indexDir, "signatures", gen).toString)
    // audit counts come from the footers of what was just written — a
    // driver-side metadata read, not a Spark job (guide §1.2/§5: the old
    // shape launched three count jobs per update, one of which re-ran the
    // whole increment plan just to report n_docs)
    val nNew = graft.sources.ParquetMeta.rowCount(spark,
      dir(indexDir, "signatures", gen))

    // candidates: within the new reps (id_a < id_b) plus cross-run — new
    // band keys bucket-join the STORED signatures; degree bounded by bucket
    // size, the corpus never re-signs
    val rows = params.numPerm / params.bands
    val foldFn = graft.functions.BandFold.register(spark, params.bands, rows,
      Dedup.BandFoldPrime)
    def banded(f: DataFrame, as: String): DataFrame =
      f.select(col(idCol).as(as),
        posexplode(call_function(foldFn, col("sig")))
          .as(Seq("band", "band_hash")))
    val within = Dedup.minhashCandidates(mySigs.select(col(idCol), col("sig")),
      idCol, "sig", params.bands, rows)
    val stored = storedUnion("signatures")
    val cands = stored match {
      case None => within
      case Some(st) =>
        val cross = banded(mySigs, "__id_new")
          .join(banded(st, "__id_old"), Seq("band", "band_hash"))
          .select(least(col("__id_new"), col("__id_old")).as("id_a"),
            greatest(col("__id_new"), col("__id_old")).as("id_b"))
          .distinct()
        within.unionByName(cross)
    }
    val allSigs = stored.fold(mySigs)(_.unionByName(mySigs))
    val edges = cands
      .join(allSigs.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(allSigs.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .where(Text.jaccard(col("sh_a"), col("sh_b")) >= params.threshold)
      .select(col("id_a"), col("id_b"))
    // reps, members and edges are INDEPENDENT writes over state the
    // signatures write already materialized (the inc/fresh lazy
    // checkpoints) plus the stored parquet — overlap them (guide §2.6)
    // instead of paying three sequential job latencies
    graft.sources.Hygiene.overlap(
      () => newRepDocs.select(col("__d"), col(idCol).as("rep_id"))
        .write.mode("overwrite").parquet(dir(indexDir, "reps", gen).toString),
      () => matched
        .unionByName(fresh.select(col(idCol), col("__rep").as("rep_id")))
        .write.mode("overwrite")
        .parquet(dir(indexDir, "members", gen).toString),
      () => edges.write.mode("overwrite")
        .parquet(dir(indexDir, "edges", gen).toString))
    val nEdges = graft.sources.ParquetMeta.rowCount(spark,
      dir(indexDir, "edges", gen))

    // members holds exactly one row per increment doc (matched ∪ fresh is a
    // partition of the increment), so n_docs is its footer count — the old
    // increment.count() re-ran the increment plan end to end for a number
    // the members write already pinned
    saveMeta(indexDir, Meta(idCol, textCol, params,
      meta.map(_.gens).getOrElse(Nil) :+
        Generation(gen, genKey,
          graft.sources.ParquetMeta.rowCount(spark,
            dir(indexDir, "members", gen)))))
    UpdateReport(gen, nNew, nEdges, skipped = false)
  }

  // ---------------------------------------------------------- ingest screen

  /** Bloom INGEST SCREENS of the stored index — the at-ingest gate's plan
    * constants: (digest bitmap, band-key bitmap, index params). Digest keys
    * are the rep map's stored text digests; band keys are the stored
    * signatures' `(band, band_hash)` pairs rendered `"band:hash"`. Both
    * collapse through [[Curation.bloomBitmapKeys]]'s partial-aggregated
    * bit_or fold — a metadata-scale driver hop no matter how large the
    * index — and enter a streaming plan as constant literals, so the gate
    * is a pure per-row expression with zero state and zero joins (the
    * decontam_bloom posture applied to the dedup index). False positives
    * drop conservatively (at re-crawl scale a kept duplicate costs more
    * than a dropped unique) and are deterministic: the oracle replays them
    * bit for bit.
    */
  def ingestScreens(spark: SparkSession, indexDir: Path, mBits: Int,
                    numHashes: Int): (Array[Long], Array[Long], Params) = {
    val m = loadMeta(indexDir).getOrElse(throw new IllegalArgumentException(
      s"dedup index '$indexDir' has no committed generations"))
    val gens = m.gens.map(_.gen)
    def read(kind: String): DataFrame =
      spark.read.parquet(gens.map(g => dir(indexDir, kind, g).toString): _*)
    val digests = read("reps").select(col("__d").as("key"))
    val rows = m.params.numPerm / m.params.bands
    val foldFn = graft.functions.BandFold.register(spark, m.params.bands,
      rows, Dedup.BandFoldPrime)
    val bandKeys = read("signatures")
      .select(posexplode(call_function(foldFn, col("sig")))
        .as(Seq("band", "bh")))
      .select(concat(col("band").cast("string"), lit(":"),
        col("bh").cast("string")).as("key"))
    // the two bitmap folds are independent aggregates over stored parquet
    // — overlap them (guide §2.6)
    var digestBits: Array[Long] = null
    var bandBits: Array[Long] = null
    graft.sources.Hygiene.overlap(
      () => digestBits = Curation.bloomBitmapKeys(digests, "key", mBits,
        numHashes),
      () => bandBits = Curation.bloomBitmapKeys(bandKeys, "key", mBits,
        numHashes))
    (digestBits, bandBits, m.params)
  }

  // --------------------------------------------------------------- clusters

  /** Duplicate clusters over EVERYTHING the index has ingested — equal to
    * [[Dedup.dupClusters]] run from scratch on the union corpus: connected
    * components over the rep edge graph, membership attach, then
    * cluster_id = min member id and cluster_size = member count per
    * component (recomputed over members, so the labeling is exact whatever
    * the id ordering across generations).
    */
  def clusters(spark: SparkSession, indexDir: Path): DataFrame = {
    val m = loadMeta(indexDir).getOrElse(throw new IllegalArgumentException(
      s"dedup index '$indexDir' has no committed generations"))
    val gens = m.gens.map(_.gen)
    def read(kind: String): DataFrame =
      spark.read.parquet(gens.map(g => dir(indexDir, kind, g).toString): _*)
    val members = read("members")
    val edges = read("edges")
    val nodes = members.select(col("rep_id").as(m.idCol)).distinct()
    val repLabels = Dedup.connectedComponents(nodes, edges, m.idCol)
      .select(col(m.idCol).as("rep_id"), col("cluster_id").as("__lab"))
    val byLab = Window.partitionBy(col("__lab"))
    members.join(repLabels, Seq("rep_id"))
      .select(col(m.idCol),
        min(col(m.idCol)).over(byLab).as("cluster_id"),
        count(lit(1)).over(byLab).as("cluster_size"))
      .withColumn("is_canonical", col(m.idCol) === col("cluster_id"))
  }
}
