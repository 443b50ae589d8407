package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Byte-pair-encoding merge training (SURVEY §2.7 #55g follow-on: vocab_topk
  * is "the first pass of tokenizer training"; this is the second) — the
  * distributed half of training a BPE tokenizer over a corpus. Reference
  * scope anchor: the reference's vocabulary tooling stops at token counts;
  * the merge loop is the standard Sennrich et al. 2016 algorithm (public),
  * re-expressed in Spark's partial-aggregation shape.
  *
  * Scale posture: the ONE corpus-sized job is the initial word-frequency
  * aggregate (explode tokens → groupBy word), whose shuffle keys are words
  * and whose output is vocabulary-sized. Every merge round after that runs
  * on the VOCABULARY (words × their symbol splits), not the corpus: one
  * partial-aggregated pair count + a TakeOrdered top-1 per round, with the
  * winning pair — a 2-string driver value, like curation_kmeans's k×dim
  * centroids — folded back in as a literal. Per-round frames are
  * checkpointed, so round r+1's plan is rooted at round r's materialized
  * RDD: plan depth and shuffle count per round stay CONSTANT as rounds
  * grow.
  *
  * Words ride as space-joined symbol strings (symbols are space-free by
  * construction), so the merge step is a string left-fold that DuckDB
  * reproduces verbatim with `list_reduce` — the engine-parity trick the
  * minhash band fold uses (Dedup.bandHash).
  */
object Bpe {

  /** One BPE merge applied to a space-joined symbol string: the standard
    * leftmost-first, non-overlapping merge is a left fold — append each
    * symbol, except that `r` arriving while the accumulator's LAST symbol
    * is exactly `l` replaces that tail with the merged symbol `l+r`.
    * A freshly merged tail never re-merges within the round (its symbol is
    * `l+r`, not `l`) — exactly the Sennrich semantics.
    */
  private[graft] def applyMerge(syms: Column, l: String, r: String): Column = {
    val toks = split(syms, " ")
    val rest = slice(toks, lit(2), size(toks) - 1)
    // Spark length()/substr count CODE POINTS — so must the tail trim
    // (l.length would be UTF-16 code units, one short per emoji in l)
    val lCps = l.codePointCount(0, l.length)
    aggregate(rest, element_at(toks, 1), (acc, s) =>
      when(s === lit(r) && (acc === lit(l) || acc.endsWith(lit(" " + l))),
        concat(acc.substr(lit(1), length(acc) - lit(lCps)), lit(l + r)))
        .otherwise(concat(acc, lit(" "), s)))
  }

  /** Vocabulary frame (w = the word, syms = space-joined characters, n =
    * corpus word frequency): the one corpus-wide aggregate, checkpointed
    * because every round reads it. The word rides along untouched so the
    * fully-merged final vocabulary doubles as the ENCODE map (word → its
    * trained segmentation) — training and encoding share the same frame.
    */
  private[graft] def initVocab(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(Text.tokens(col(textCol))).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      // one symbol per CODE POINT (Text.codePointSplit): a code-unit split
      // would break supplementary characters into mangled surrogate halves
      // and diverge from the DuckDB twin's per-character word[i] indexing
      .select(col("w"), concat_ws(" ", Text.codePointSplit(col("w"))).as("syms"),
        col("n"))
      .localCheckpoint(eager = false)

  /** The round's winning pair: vocabulary-bounded pair counts (bigram
    * shingles over the symbol string, weighted by word frequency, partially
    * aggregated map-side) ranked by (count desc, lhs asc, rhs asc) — plans
    * as one aggregate + TakeOrderedAndProject, never a global sort.
    */
  private[graft] def bestPair(vocab: DataFrame): DataFrame = {
    val pair = split(col("pair"), " ")
    vocab
      .select(col("n"),
        explode(Text.shingles(split(col("syms"), " "), 2)).as("pair"))
      .select(element_at(pair, 1).as("lhs"), element_at(pair, 2).as("rhs"),
        col("n"))
      .groupBy(col("lhs"), col("rhs")).agg(sum(col("n")).as("cnt"))
      .orderBy(col("cnt").desc, col("lhs").asc, col("rhs").asc)
      .limit(1)
  }

  /** A trained tokenizer: the merge table (rnd 1-based, lhs, rhs, cnt —
    * ≤ rounds rows, driver-side by design; the merge table IS the portable
    * artifact) plus the fully-merged vocabulary frame (w, syms, n) the
    * training loop materialized anyway — word → trained segmentation, i.e.
    * the corpus encode map, vocabulary-sized and already checkpointed.
    */
  final case class Model(merges: Seq[(Int, String, String, Long)],
                         vocab: DataFrame)

  /** Train `rounds` BPE merges over the corpus. Stops early if the
    * vocabulary runs out of adjacent pairs.
    */
  def train(df: DataFrame, textCol: String, rounds: Int): Model = {
    require(rounds > 0, s"bpe: rounds must be > 0, got $rounds")
    var vocab = initVocab(df, textCol)
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var rnd = 1
    var exhausted = false
    while (rnd <= rounds && !exhausted) {
      bestPair(vocab).collect().headOption match {
        case None => exhausted = true
        case Some(row) =>
          val (l, r, c) = (row.getString(0), row.getString(1), row.getLong(2))
          out += ((rnd, l, r, c))
          // fold the winner back in as a literal and cut the lineage: the
          // next round's plan roots at this round's RDD, not the full chain
          vocab = vocab.withColumn("syms", applyMerge(col("syms"), l, r))
            .localCheckpoint(eager = false)
          rnd += 1
      }
    }
    Model(out.result(), vocab)
  }

  /** The merge table alone (see [[train]]). */
  def merges(df: DataFrame, textCol: String,
             rounds: Int): Seq[(Int, String, String, Long)] =
    train(df, textCol, rounds).merges

  // ------------------------------------------------------- tokenizer I/O
  // The merge table is the PORTABLE tokenizer artifact (reference
  // artifact discipline, artifacts/scaler.py save/load shape): train once
  // on the reference crawl, encode every later corpus by hydrating the
  // JSON — no retraining run. json4s ships with Spark.

  import org.json4s._
  import org.json4s.jackson.JsonMethods

  def saveTokenizer(path: String,
                    merges: Seq[(Int, String, String, Long)]): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    val json = JObject(
      "kind" -> JString("bpe_tokenizer"),
      "version" -> JInt(1),
      "merges" -> JArray(merges.sortBy(_._1).map { case (rnd, l, r, c) =>
        JObject("rnd" -> JInt(rnd), "lhs" -> JString(l),
          "rhs" -> JString(r), "cnt" -> JLong(c)): JValue
      }.toList))
    java.nio.file.Files.writeString(p,
      JsonMethods.pretty(JsonMethods.render(json)))
  }

  def loadTokenizer(path: String): Seq[(Int, String, String, Long)] = {
    val j = JsonMethods.parse(
      java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    require((j \ "kind") == JString("bpe_tokenizer"),
      s"not a bpe_tokenizer artifact: $path")
    (j \ "merges") match {
      case JArray(ms) => ms.map { m =>
        def s(f: String) = (m \ f).asInstanceOf[JString].s
        def l(f: String) = (m \ f) match {
          case JInt(x)  => x.toLong
          case JLong(x) => x
          case other    => throw new IllegalArgumentException(s"bad $f: $other")
        }
        (l("rnd").toInt, s("lhs"), s("rhs"), l("cnt"))
      }.sortBy(_._1)
      case other => throw new IllegalArgumentException(s"bad merges: $other")
    }
  }

  /** Fold an already-trained merge table over an arbitrary corpus's
    * vocabulary — the tokenizer-APPLICATION half of the artifact round
    * trip. Words the training corpus never saw still segment (characters +
    * whichever learned merges apply), the standard BPE open-vocabulary
    * behavior. Same per-round checkpoint discipline as [[train]] (constant
    * plan depth however many merges the artifact holds); each round is a
    * pure vocabulary-sized map — no pair counting, no shuffle at all.
    */
  private[graft] def applyMergeTable(vocab: DataFrame,
                                     merges: Seq[(Int, String, String, Long)]): DataFrame =
    merges.sortBy(_._1).foldLeft(vocab) { case (v, (_, l, r, _)) =>
      v.withColumn("syms", applyMerge(col("syms"), l, r))
        .localCheckpoint(eager = false)
    }

  /** Apply a trained tokenizer back to the corpus: per-document token
    * accounting under the learned merges (n_words, n_chars, n_tokens —
    * n_tokens shrinks toward n_words as merges bite; without any merge it
    * equals n_chars). Documents with no non-empty token are absent, matching
    * the vocabulary's domain.
    *
    * Scale posture: the encode map is [[train]]'s final vocabulary — word →
    * size of its merged segmentation, VOCABULARY-sized. The corpus-sized
    * side is first collapsed to per-document term frequencies (partial
    * aggregation map-side, shuffle keyed by (id, word)), so the join against
    * the encode map moves per-doc-vocabulary rows, not raw token
    * occurrences, and AQE broadcasts the map when it is small. No row ever
    * re-runs the merge fold over document text.
    */
  def encodeStats(df: DataFrame, idCol: String, textCol: String,
                  rounds: Int): DataFrame =
    encodeJoin(df, idCol, textCol, train(df, textCol, rounds).vocab)

  /** [[encodeStats]] under a LOADED merge table (the artifact round trip:
    * train elsewhere, [[saveTokenizer]], hydrate, encode THIS corpus) —
    * the encode map is this corpus's vocabulary folded through the stored
    * merges, so out-of-training-vocabulary words segment too.
    */
  def encodeStatsWith(df: DataFrame, idCol: String, textCol: String,
                      merges: Seq[(Int, String, String, Long)]): DataFrame =
    // Two independent corpus explodes — MEASURED AND KEPT (r15): sharing
    // one explode via a checkpointed tf frame materializes a corpus-scale
    // frame (sf100: bpe_artifact 29.8 → 45.2 s, the block write/read cost
    // more than the explode it saved), and an un-checkpointed share can't
    // ReuseExchange because the merge-fold chain's per-round checkpoints
    // (which pin plan depth) hide the vocabulary's subplan from the final
    // plan. The direct w-keyed vocabulary aggregate is also the smaller
    // shuffle. The fit side amortizes behind TokenizerCache; this apply
    // cost is the honest price of the artifact round trip.
    encodeJoin(df, idCol, textCol,
      applyMergeTable(initVocab(df, textCol), merges))

  /** The tf-compressed encode join shared by [[encodeStats]] and
    * [[encodeStatsWith]] (see encodeStats's scale posture).
    * WordPiece's encode path is the SAME join — the vocab frame's `syms`
    * convention (## markers or not) never enters it: only the segment
    * COUNT does.
    */
  private[graft] def encodeJoin(df: DataFrame, idCol: String, textCol: String,
                                vocab: DataFrame): DataFrame = {
    val tokMap = vocab.select(col("w"),
      size(split(col("syms"), " ")).cast("long").as("wtoks"))
    val tf = df
      .select(col(idCol), explode(Text.tokens(col(textCol))).as("w"))
      .where(col("w") =!= "")
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("tf"))
    tf.join(tokMap, "w")
      .groupBy(col(idCol))
      .agg(sum(col("tf")).cast("long").as("n_words"),
        sum(col("tf") * length(col("w"))).cast("long").as("n_chars"),
        sum(col("tf") * col("wtoks")).cast("long").as("n_tokens"))
  }

  /** Per-ROW (n_words, n_chars, n_tokens) under a fixed merge table — the
    * streaming-safe twin of [[encodeStatsWith]]: the identical per-word
    * merge fold, applied inline to each document instead of joined through
    * the corpus vocabulary, so it needs no corpus-at-rest pass and no
    * state (ConfigRuntime.corpusStream's `tokenize` step). Result-equal to
    * the join path because the fold is a pure function of the word.
    *
    * Scale note: the expression inlines one fold per merge (fine for the
    * gate's k; the batch join path amortizes the fold over DISTINCT words
    * and is the pick for production-sized merge tables).
    */
  /** Let-binding for a column expression: evaluate `e` ONCE as a lambda
    * variable and reference it cheaply inside `f`. [[applyMerge]] reads its
    * `syms` argument four times, so folding k merges NAIVELY multiplies the
    * accumulated tree ~4x per level — 4^k nodes, and Catalyst spins for
    * minutes at k = 8 (measured). With each level bound, references are
    * variable reads and the tree stays O(k). Runtime cost: one 1-element
    * array per level, negligible.
    */
  private def bound(e: Column)(f: Column => Column): Column =
    element_at(transform(array(e), f), 1)

  def tokenStats(textCol: Column,
                 merges: Seq[(Int, String, String, Long)]): Column = {
    val words = filter(Text.tokens(textCol), w => w =!= "")
    val segs = transform(words, w => {
      val init = concat_ws(" ", Text.codePointSplit(w))
      merges.sortBy(_._1).foldLeft(init) { case (acc, (_, l, r, _)) =>
        bound(acc)(applyMerge(_, l, r))
      }
    })
    struct(
      size(words).cast("long").as("n_words"),
      aggregate(words, lit(0L), (a, w) => a + length(w).cast("long"))
        .as("n_chars"),
      aggregate(segs, lit(0L), (a, s) => a + size(split(s, " ")).cast("long"))
        .as("n_tokens"))
  }

  /** [[tokenStats]] through the codegen'd expression
    * (functions.BpeStats) — identical output (BpeSpec pins equality on
    * every path: merging, open-vocabulary fallback, empties), one tight
    * loop instead of O(words × merges) interpreted lambdas per row. The
    * pick for the streaming tokenize gate; [[tokenStats]] stays as the
    * independently-derived reference the spec compares against.
    */
  def tokenStatsFast(spark: org.apache.spark.sql.SparkSession,
                     textCol: Column,
                     merges: Seq[(Int, String, String, Long)]): Column = {
    val table = merges.sortBy(_._1).map { case (_, l, r, _) => (l, r) }
    val fn = graft.functions.BpeStats.register(spark, table)
    call_function(fn, filter(Text.tokens(textCol), w => w =!= ""))
  }

  /** [[merges]] as a DataFrame for the gated query/bench surface. */
  def mergesFrame(df: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    merges(df, textCol, rounds).toDF("rnd", "lhs", "rhs", "cnt")
  }
}
