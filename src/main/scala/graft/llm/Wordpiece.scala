package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Staging

/** WordPiece tokenizer training and encoding (Schuster & Nakajima 2012;
  * the BERT tokenizer, Devlin et al. 2019 §4) — the THIRD tokenizer
  * family next to [[Bpe]] (frequency-greedy merges) and [[Unigram]]
  * (likelihood-pruned inventory). WordPiece shares BPE's merge LOOP but
  * scores candidates by the likelihood GAIN of the merge under a
  * unigram LM over the current symbols: score(x,y) =
  * count(xy) / (count(x) · count(y)) — merging the pair whose joint
  * occurrence is most surprising given its parts, not merely the most
  * frequent one. Word-internal continuation symbols carry the `##`
  * marker (the first symbol of a word is plain), and the merged unit
  * concatenates the left symbol with the right one's marker stripped —
  * so a unit's marker records only whether it starts a word.
  *
  * Determinism (the oracle-row discipline): scores stay comparable
  * bit-for-bit cross-engine because each is a SINGLE IEEE division of
  * exact integers (pair and unit counts are BIGINTs; the product
  * count(x)·count(y) stays far below 2^53 at any per-corpus histogram
  * this engine materializes, so numerator and denominator are both
  * exact doubles) — no sums of rounded terms, no transcendental. Ties
  * break lexicographic on (x, y), as in [[Bpe]].
  *
  * Scale shape: identical to [[Bpe]] — per-merge cost is
  * VOCABULARY-sized (positions of the word histogram, Heaps' law), the
  * best pair is TakeOrdered(1) over the pair histogram joined with the
  * two unit counts, the rewrite reuses [[Bpe.applyMerge]]'s windowed
  * greedy-scan equivalence (overlap only on same-symbol runs — the
  * `##` markers never change that argument, they only change the
  * merged symbol's spelling). The encode path is map-only: the learned
  * unit inventory rides a broadcast map literal and the greedy
  * longest-match-first walk (max-munch, [UNK] on a stuck position) is
  * an in-row `aggregate` lambda, the [[Unigram]] DP's cheaper cousin.
  */
object Wordpiece {

  /** Initial WordPiece symbols for a (word, cnt) histogram: first
    * character plain, every later character `##`-marked. */
  def withCharSyms(words: DataFrame): DataFrame =
    words.withColumn("syms",
      expr("""transform(sequence(1, length(word)), i ->
                CASE WHEN i = 1 THEN substring(word, 1, 1)
                     ELSE concat('##', substring(word, i, 1)) END)"""))

  /** Merged unit spelling: left symbol ++ right symbol without its
    * continuation marker. */
  private def joinSym(x: Column, y: Column): Column =
    concat(x, regexp_replace(y, "^##", ""))

  /** Highest-likelihood-gain pair of a positions table: the pair
    * histogram joined with the per-unit occurrence counts, cut by
    * TakeOrdered(1) on (score desc, x, y). The unit counts come from
    * the SAME positions frame (every occurrence, including word-final
    * symbols the pair histogram's `ns IS NOT NULL` filter drops).
    * @return 1 row: (x, y, pair_count, left_count, right_count) */
  private[graft] def bestPairOf(pos: DataFrame): DataFrame = {
    val units = pos.groupBy(col("s").as("sym")).agg(sum("cnt").as("scnt"))
    Bpe.pairCountsOf(pos)
      .join(units.select(col("sym").as("x"), col("scnt").as("left_count")), Seq("x"))
      .join(units.select(col("sym").as("y"), col("scnt").as("right_count")), Seq("y"))
      .orderBy((col("pair_count") / (col("left_count") * col("right_count"))).desc,
        col("x"), col("y"))
      .limit(1)
      .select("x", "y", "pair_count", "left_count", "right_count")
  }

  /** Learn `steps` WordPiece merges from a (word, cnt) histogram.
    * @return (merges: (step, x, y, pair_count, left_count, right_count),
    *         vocab: (word, cnt, syms) after all merges) */
  def train(words: DataFrame, steps: Int): (DataFrame, DataFrame) =
    Bpe.boundedHistogram(words) match {
      case Right(hist) => trainDriverLoop(words.sparkSession, hist, steps)
      case Left(wh) => trainDistributed(wh, steps)
    }

  /** Driver form of [[joinSym]]: `regexp_replace(y, "^##", "")` strips
    * one leading marker. */
  private def joinSymLocal(x: String, y: String): String =
    x + (if (y.startsWith("##")) y.substring(2) else y)

  /** The driver-resident WordPiece merge loop (see
    * [[Bpe.boundedHistogram]] for the gate rationale — the loop's
    * working set is the vocabulary, bounded below the gate). Exact
    * replication of the distributed semantics: unit counts are exact
    * integer sums over EVERY position (word-final symbols included, as
    * in [[bestPairOf]]'s units frame), the score is the same single
    * IEEE division pair_count / (left_count · right_count) on the same
    * exact integers, ties compare doubles with 0.0 == -0.0
    * (SQLOrderingUtil) then break on UTF-8 binary (x, y), and the
    * rewrite is the greedy scan with the marker-stripping join. */
  private def trainDriverLoop(spark: org.apache.spark.sql.SparkSession,
      hist: Array[(String, Long)], steps: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    def initSyms(word: String): Array[String] = {
      val cs = Bpe.charSymsLocal(word)
      var i = 1
      while (i < cs.length) { cs(i) = "##" + cs(i); i += 1 }
      cs
    }
    var vocab = hist.map { case (w, c) => (w, c, initSyms(w)) }
    val mergeRows = Seq.newBuilder[(Int, String, String, Long, Long, Long)]
    var exhausted = false
    for (i <- 1 to steps if !exhausted) {
      val pairs = Bpe.pairCountsLocal(vocab)
      if (pairs.isEmpty) exhausted = true
      else {
        val units = new scala.collection.mutable.HashMap[String, Long]()
        vocab.foreach { case (_, cnt, syms) =>
          syms.foreach(s => units.update(s, units.getOrElse(s, 0L) + cnt))
        }
        // (score DESC, x, y) — the same fold-over-the-map pick as
        // Bpe.bestPairLocal, with the likelihood-gain score first
        var best: ((String, String), Long, Double) = null
        pairs.foreach { case (k @ (x, y), pc) =>
          // multiplyExact: overflow fails here as ANSI fails the
          // distributed path's left_count * right_count
          val score = pc.toDouble / Math.multiplyExact(units(x), units(y)).toDouble
          val better = best == null || (if (score == best._3) {
            val cx = Bpe.utf8Cmp(x, best._1._1)
            cx < 0 || (cx == 0 && Bpe.utf8Cmp(y, best._1._2) < 0)
          } else java.lang.Double.compare(score, best._3) > 0)
          if (better) best = (k, pc, score)
        }
        val ((x, y), pc, _) = best
        mergeRows += ((i, x, y, pc, units(x), units(y)))
        vocab = vocab.map { case (w, c, syms) =>
          var j = 0; var has = false
          while (!has && j + 1 < syms.length) {
            has = syms(j) == x && syms(j + 1) == y; j += 1
          }
          if (has) (w, c, Bpe.mergeWordLocal(syms, x, y, joinSymLocal))
          else (w, c, syms)
        }
      }
    }
    val rows = mergeRows.result()
    val mergesDf =
      if (rows.isEmpty)
        spark.emptyDataFrame
          .select(lit(1).as("step"), lit("").as("x"), lit("").as("y"),
            lit(0L).as("pair_count"), lit(0L).as("left_count"),
            lit(0L).as("right_count")).limit(0)
      else rows.toDF("step", "x", "y", "pair_count", "left_count",
        "right_count")
    val vocabDf = vocab.toSeq.map { case (w, c, s) => (w, c, s.toSeq) }
      .toDF("word", "cnt", "syms")
    (mergesDf.select("step", "x", "y", "pair_count", "left_count",
      "right_count"), vocabDf)
  }

  /** The distributed merge loop — [[train]]'s path above the gate. */
  private[graft] def trainDistributed(words: DataFrame, steps: Int)
      : (DataFrame, DataFrame) = {
    val spark = words.sparkSession
    import spark.implicits._
    var vocab = Staging.stage(withCharSyms(words))
    val mergeRows = Seq.newBuilder[(Int, String, String, Long, Long, Long)]
    var exhausted = false
    for (i <- 1 to steps if !exhausted) {
      val pos = Staging.stage(Bpe.positionsOf(vocab))
      // bounded 1-row driver collect (the Bpe.train discipline): saves
      // the staged best-pair frame, its isEmpty probe, and the
      // broadcast-build job per step — same pair by construction
      val bpRows = bestPairOf(pos).collect()
      if (bpRows.isEmpty) exhausted = true
      else {
        val r = bpRows.head
        mergeRows += ((i, r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
        val bp = Seq((r.getString(0), r.getString(1), r.getLong(2)))
          .toDF("x", "y", "pair_count")
        vocab = Staging.stage(Bpe.applyMerge(pos, bp, joinSym))
      }
    }
    val rows = mergeRows.result()
    val mergesDf =
      if (rows.isEmpty)
        vocab.sparkSession.emptyDataFrame
          .select(lit(1).as("step"), lit("").as("x"), lit("").as("y"),
            lit(0L).as("pair_count"), lit(0L).as("left_count"),
            lit(0L).as("right_count")).limit(0)
      else rows.toDF("step", "x", "y", "pair_count", "left_count",
        "right_count")
    (mergesDf.select("step", "x", "y", "pair_count", "left_count", "right_count"),
      vocab)
  }

  /** Greedy longest-match-first (max-munch) WordPiece encode of a
    * (word, cnt) histogram against a learned unit inventory: at each
    * position take the LONGEST unit matching (plain form at the word
    * start, `##`-form after), emit it, advance; a position with no
    * matching unit makes the whole word [UNK] (the BERT rule). Map-only:
    * the inventory is a broadcast map literal, the walk an in-row
    * `aggregate` (≤ word-length iterations, each a bounded probe of the
    * candidate lengths).
    * @param units single-column (`piece`) inventory frame
    * @return (word, cnt, n_pieces, is_unk) — n_pieces = 0 when is_unk */
  def encode(words: DataFrame, units: DataFrame, maxPieceLen: Int): DataFrame = {
    val vm = units.agg(map_from_entries(
      collect_list(struct(col("piece"), lit(1)))).as("vm"))
    // the longest matching length is bound ONCE per step via the
    // single-element transform (the kGramSparkExpr bind-once idiom —
    // a lambda variable is an O(1) reference, immune to Catalyst
    // re-inlining the whole probe per consumer)
    words.crossJoin(broadcast(vm))
      .withColumn("walk", expr(
        s"""aggregate(sequence(1, length(word)),
              named_struct('pos', 1, 'n', 0, 'unk', false),
              (acc, it) -> CASE
                WHEN acc.unk OR acc.pos > length(word) THEN acc
                ELSE element_at(transform(array(
                    array_max(filter(
                      transform(sequence(1, least($maxPieceLen,
                                                  length(word) - acc.pos + 1)),
                        l -> CASE WHEN try_element_at(vm,
                            CASE WHEN acc.pos = 1
                                 THEN substring(word, acc.pos, l)
                                 ELSE concat('##', substring(word, acc.pos, l))
                            END) IS NOT NULL THEN l END),
                      z -> z IS NOT NULL))),
                  pk -> CASE
                    WHEN pk IS NULL
                    THEN named_struct('pos', acc.pos, 'n', 0, 'unk', true)
                    ELSE named_struct('pos', acc.pos + pk,
                      'n', acc.n + 1, 'unk', false) END), 1)
                END)"""))
      .select(col("word"), col("cnt"),
        when(col("walk.unk"), lit(0)).otherwise(col("walk.n"))
          .cast("long").as("n_pieces"),
        col("walk.unk").as("is_unk"))
  }
}
