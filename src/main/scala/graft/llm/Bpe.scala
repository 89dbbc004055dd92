package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Staging

/** Distributed BPE merge training (Sennrich et al. 2016, arXiv:1508.07909)
  * — TOKENIZER training as an engine operator, the canonical
  * LLM-pipeline step the text tier was still missing. Classic BPE over
  * the corpus word histogram: start from character symbols, repeatedly
  * (1) count adjacent symbol pairs weighted by word frequency, (2) pick
  * the most frequent pair (ties: lexicographic on the pair — the
  * determinism knob reference implementations leave to dict order), and
  * (3) merge its occurrences greedily left-to-right within every word.
  *
  * The merge application is the part naive ports get wrong in SQL: the
  * greedy scan looks inherently sequential. It isn't — overlapping
  * matches only happen on runs of one repeated symbol (a match at p and
  * p+1 forces x = y), and within such a run the greedy scan keeps
  * exactly the matches at even offsets from the run start. So one pass
  * of window functions reproduces the scan exactly:
  *   lead(s)           -> pair at each position;
  *   running match count -> run id (p - mrn is constant per run);
  *   min(p) per run    -> keep = even offset;
  *   lag(keep)         -> the position consumed by the previous merge.
  * Every window is keyed on `word`, every aggregate has map-side
  * partials, and the best-pair cut is TakeOrdered(1) riding a broadcast
  * back into the rewrite — nothing collapses the vocabulary to one task
  * and nothing touches the corpus at all after the histogram: per-merge
  * cost is VOCABULARY-sized (Heaps' law: ~10^6-10^7 types at 100 TB —
  * a keyed-window Spark job per merge, the same shape production BPE
  * trainers distribute), corpus-sized work happens exactly once.
  *
  * Everything is integer/string arithmetic — no floats anywhere — so the
  * DuckDB oracle replays training bit-exactly as an unrolled CTE chain
  * (q104/q105).
  */
object Bpe {

  /** Initial character symbols for a (word, cnt) histogram. */
  def withCharSyms(words: DataFrame): DataFrame =
    words.withColumn("syms",
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))

  /** One merge step over a (word, cnt, syms) table.
    * @return (bestPair: 1-row (x, y, pair_count) frame — staged,
    *         rewritten: (word, cnt, syms) with the pair merged) */
  def step(words: DataFrame): (DataFrame, DataFrame) = {
    val pos = Staging.stage(positionsOf(words))
    val bp = Staging.stage(bestPairOf(pos))
    (bp, applyMerge(pos, bp))
  }

  /** The windowed greedy-merge rewrite of a positions table against a
    * 1-row best-pair frame — the scan-equivalence machinery of [[step]],
    * shared with the incremental trainer (which applies it to the
    * matched subset only) and with [[Wordpiece]] (whose merged symbol
    * strips the continuation marker — `joinSym` is that seam; the
    * greedy-scan/window equivalence itself is marker-agnostic). */
  private[graft] def applyMerge(pos: DataFrame, bp: DataFrame,
      joinSym: (Column, Column) => Column = concat(_, _)): DataFrame = {
    val wp = Window.partitionBy("word").orderBy("p")
    pos.crossJoin(broadcast(bp))
      .withColumn("mt",
        coalesce(col("s") === col("x") && col("ns") === col("y"), lit(false)))
      .withColumn("mrn", sum(when(col("mt"), 1).otherwise(0)).over(wp))
      // p - mrn is constant across a maximal run of consecutive matches
      .withColumn("run", when(col("mt"), col("p") - col("mrn")))
      .withColumn("rs", min(col("p")).over(Window.partitionBy("word", "run")))
      .withColumn("keep", col("mt") && (col("p") - col("rs")) % 2 === 0)
      .withColumn("consumed", coalesce(lag(col("keep"), 1).over(wp), lit(false)))
      .filter(!col("consumed"))
      .withColumn("s2",
        when(col("keep"), joinSym(col("s"), col("ns"))).otherwise(col("s")))
      .groupBy("word", "cnt")
      // in-row sort by position (q92's trick): collect order is
      // partition-dependent, the array_sort makes it deterministic
      .agg(expr("transform(array_sort(collect_list(struct(p, s2))), q -> q.s2)")
        .as("syms"))
  }

  /** The per-position symbol table with its lead pair — the unstaged
    * form (step() stages it; exposed so plan-shape specs can see through
    * the staging truncation). */
  private[graft] def positionsOf(words: DataFrame): DataFrame = {
    val wp = Window.partitionBy("word").orderBy("p")
    words
      .select(col("word"), col("cnt"), posexplode(col("syms")).as(Seq("p0", "s")))
      .select(col("word"), col("cnt"), (col("p0") + 1).as("p"), col("s"))
      .withColumn("ns", lead(col("s"), 1).over(wp))
  }

  /** Weighted adjacent-pair histogram of a positions table:
    * (x, y, pair_count). Map-side partial aggregation; row count is the
    * number of DISTINCT adjacent pairs, not positions. */
  private[graft] def pairCountsOf(pos: DataFrame): DataFrame =
    pos.filter(col("ns").isNotNull)
      .groupBy(col("s").as("x"), col("ns").as("y"))
      .agg(sum(col("cnt")).as("pair_count"))

  /** Most frequent adjacent pair, ties lexicographic — TakeOrdered(1),
    * never a global sort (unstaged; step() stages it). */
  private[graft] def bestPairOf(pos: DataFrame): DataFrame =
    pairCountsOf(pos)
      .orderBy(col("pair_count").desc, col("x"), col("y"))
      .limit(1)

  // ---- driver-resident merge loop (the bounded-table discipline) -------
  //
  // The merge LOOP's working set is the word HISTOGRAM — vocabulary-
  // sized, NOT corpus-sized. When that histogram is bounded (the same
  // judgment under which PageRank's rank vector goes driver-resident and
  // the k-means/unigram iteration tables ride bounded collects), every
  // per-step distributed job — the positions checkpoint, the best-pair
  // TakeOrdered, the rewrite checkpoint, the count-table fold — is a
  // scheduling round trip spent on a table that already fits one JVM:
  // measured at sf0.1, the 4-step trainers pay 40-65 jobs of ~20 ms work
  // under 0.05 s gaps each (q114 3.8 s wall / 0.96 s task-CPU). Below
  // [[driverTrainGate]] the loop runs on the driver over the collected
  // histogram — ONE distributed job total (the histogram stage+count) —
  // replicating the distributed semantics exactly (integer pair sums,
  // UTF-8 binary tie-breaks, the greedy even-offset scan, code-point
  // symbols). Real-corpus vocabularies (Heaps' law: 10^6-10^7 types at
  // 100 TB) stay far above the gate and keep the distributed path;
  // BpePropSpec pins driver == distributed == the sequential model.

  /** Histogram-rows gate for the driver-resident loop. 2^17 rows is a
    * few MB of driver heap (words + symbol arrays) — conservative next
    * to PageRank's 2^20-node gate because these rows carry strings, not
    * longs. `spark.graft.tokenizer.driverTrainRows` overrides; 0
    * disables (every trainer then runs distributed, the A/B knob). */
  private[llm] def driverTrainGate(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get("spark.graft.tokenizer.driverTrainRows",
      (1L << 17).toString).toLong

  /** The (word, cnt) histogram, collected when bounded: Right(rows)
    * below the gate (one stageCounted job, the collect reads its cached
    * blocks, released immediately), Left(histogram) above it — staged,
    * so the distributed path's first checkpoint scans blocks — or
    * verbatim when the gate is disabled. */
  private[llm] def boundedHistogram(words: DataFrame)
      : Either[DataFrame, Array[(String, Long)]] = {
    val gate = driverTrainGate(words.sparkSession)
    if (gate <= 0L) Left(words)
    else {
      val (wh, n) = Staging.stageCounted(words)
      if (n > gate) Left(wh)
      else {
        val rows = wh.collect().map { r =>
          // any integral count type — the distributed path's sum() widens
          // Int counts to Long the same way
          (r.getString(r.fieldIndex("word")), r.getAs[Number]("cnt").longValue)
        }
        Staging.release(wh)
        Right(rows)
      }
    }
  }

  /** Spark's string order is UTF8String.binaryCompare — unsigned UTF-8
    * bytes, replicated verbatim (the emTrainPruned discipline). */
  private[llm] def utf8Cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Initial character symbols, driver form: `length`/`substring` count
    * CODE POINTS, so a surrogate pair is ONE symbol here too. */
  private[llm] def charSymsLocal(word: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      out += word.substring(i, i + n)
      i += n
    }
    out.result()
  }

  /** The greedy left-to-right merge scan — the ground truth
    * [[applyMerge]]'s window formulation reproduces (BpePropSpec's
    * sequential model, verbatim). */
  private[llm] def mergeWordLocal(syms: Array[String], x: String, y: String,
      join: (String, String) => String): Array[String] = {
    val out = Array.newBuilder[String]
    var j = 0
    while (j < syms.length) {
      if (j + 1 < syms.length && syms(j) == x && syms(j + 1) == y) {
        out += join(syms(j), syms(j + 1)); j += 2
      } else { out += syms(j); j += 1 }
    }
    out.result()
  }

  /** Weighted adjacent-pair histogram of a driver vocab — exact integer
    * sums, the [[pairCountsOf]] arithmetic. */
  private[llm] def pairCountsLocal(vocab: Array[(String, Long, Array[String])])
      : scala.collection.mutable.HashMap[(String, String), Long] = {
    val counts = new scala.collection.mutable.HashMap[(String, String), Long]()
    vocab.foreach { case (_, cnt, syms) =>
      var j = 0
      while (j + 1 < syms.length) {
        val k = (syms(j), syms(j + 1))
        counts.update(k, counts.getOrElse(k, 0L) + cnt)
        j += 1
      }
    }
    counts
  }

  /** (pair_count DESC, x, y) — [[bestPairOf]]'s cut, picked by a fold
    * over the map (iteration-order-free: the comparison is a total
    * order). */
  private def bestPairLocal(counts: collection.Map[(String, String), Long])
      : Option[(String, String, Long)] = {
    var best: ((String, String), Long) = null
    counts.foreach { e =>
      val better = best == null || e._2 > best._2 || (e._2 == best._2 && {
        val cx = utf8Cmp(e._1._1, best._1._1)
        cx < 0 || (cx == 0 && utf8Cmp(e._1._2, best._1._2) < 0)
      })
      if (better) best = e
    }
    Option(best).map { case ((x, y), c) => (x, y, c) }
  }

  /** The driver-resident merge loop. ONE shared loop serves [[train]]
    * and [[trainIncremental]]: full recount per step equals delta
    * maintenance by the exactly-once arithmetic BpePropSpec pins, so
    * below the gate both dispatch here (they differ only in telemetry —
    * `vocab_symbols` for the full trainer, `matched_words` for the
    * incremental one, same values the distributed jobs reported). */
  private def trainDriverLoop(spark: org.apache.spark.sql.SparkSession,
      hist: Array[(String, Long)], steps: Int,
      observe: Option[(String, Long) => Unit],
      reportSymbols: Boolean): (DataFrame, DataFrame) = {
    import spark.implicits._
    def report(stage: String)(rows: => Long): Unit = observe.foreach(_(stage, rows))
    var vocab = hist.map { case (w, c) => (w, c, charSymsLocal(w)) }
    val mergeRows = Seq.newBuilder[(Int, String, String, Long)]
    var exhausted = false
    for (i <- 1 to steps if !exhausted) {
      bestPairLocal(pairCountsLocal(vocab)) match {
        case None => exhausted = true
        case Some((x, y, pc)) =>
          mergeRows += ((i, x, y, pc))
          var matched = 0L
          vocab = vocab.map { case (w, c, syms) =>
            var j = 0; var has = false
            while (!has && j + 1 < syms.length) {
              has = syms(j) == x && syms(j + 1) == y; j += 1
            }
            if (has) { matched += 1; (w, c, mergeWordLocal(syms, x, y, _ + _)) }
            else (w, c, syms)
          }
          report(s"bpe:step${i}_pair_count")(pc)
          if (reportSymbols)
            report(s"bpe:step${i}_vocab_symbols")(
              vocab.iterator.map(_._3.length.toLong).sum)
          else report(s"bpe:step${i}_matched_words")(matched)
      }
    }
    val rows = mergeRows.result()
    val mergesDf =
      if (rows.isEmpty)
        spark.emptyDataFrame
          .select(lit(1).as("step"), lit("").as("x"), lit("").as("y"),
            lit(0L).as("pair_count")).limit(0)
      else rows.toDF("step", "x", "y", "pair_count")
    val vocabDf = vocab.toSeq.map { case (w, c, s) => (w, c, s.toSeq) }
      .toDF("word", "cnt", "syms")
    (mergesDf.select("step", "x", "y", "pair_count"), vocabDf)
  }

  /** Learn `steps` merges from a (word, cnt) histogram.
    * @param observe training telemetry hook `(stage, rows) => Unit`,
    *   zero-cost when None: per step, the chosen pair's weighted count
    *   (`bpe:step{i}_pair_count`) and the vocabulary's remaining symbol
    *   total (`bpe:step{i}_vocab_symbols` — the compression curve).
    * @return (merges: (step, x, y, pair_count) — up to `steps` rows
    *         (fewer on pair exhaustion), vocab: (word, cnt, syms) after
    *         all merges) */
  def train(words: DataFrame, steps: Int,
            observe: Option[(String, Long) => Unit] = None): (DataFrame, DataFrame) =
    boundedHistogram(words) match {
      case Right(hist) => trainDriverLoop(words.sparkSession, hist, steps,
        observe, reportSymbols = true)
      case Left(wh) => trainDistributed(wh, steps, observe)
    }

  /** The distributed merge loop — [[train]]'s path above the gate, and
    * the formulation PlanSpec/ShuffleGrowthSpec pin directly. */
  private[graft] def trainDistributed(words: DataFrame, steps: Int,
            observe: Option[(String, Long) => Unit] = None): (DataFrame, DataFrame) = {
    def report(stage: String)(rows: => Long): Unit = observe.foreach(_(stage, rows))
    val spark = words.sparkSession
    import spark.implicits._
    var vocab = Staging.stage(withCharSyms(words))
    val mergeRows = Seq.newBuilder[(Int, String, String, Long)]
    var exhausted = false
    for (i <- 1 to steps if !exhausted) {
      val pos = Staging.stage(positionsOf(vocab))
      // the best pair is a bounded 1-row TakeOrdered result — COLLECT it
      // (one driver round trip) instead of staging + isEmpty-probing +
      // broadcast-building a 1-row frame: the merge rewrite then joins a
      // driver-local row (LocalTableScan broadcasts without a job), the
      // exhaustion check is free, and the merges table is assembled on
      // the driver instead of a k-way union of staged frames — measured
      // 3 scheduling round trips saved per merge step, exact same pair
      // by construction (same TakeOrdered(1), same tie-break).
      val bpRows = bestPairOf(pos).collect()
      // pair exhaustion (every word down to one symbol): stop — an
      // empty best pair would otherwise annihilate the vocab through
      // the cross join.
      if (bpRows.isEmpty) exhausted = true
      else {
        val r = bpRows.head
        val (x, y, pc) = (r.getString(0), r.getString(1), r.getLong(2))
        mergeRows += ((i, x, y, pc))
        val bp = Seq((x, y, pc)).toDF("x", "y", "pair_count")
        vocab = Staging.stage(applyMerge(pos, bp))
        // merge-progress telemetry (the Components discipline — zero
        // cost when unobserved): the chosen pair's weighted count, and
        // the total symbols left in the vocabulary (the compression
        // curve a production training run watches for early stop)
        report(s"bpe:step${i}_pair_count")(pc)
        report(s"bpe:step${i}_vocab_symbols")(
          vocab.agg(sum(size(col("syms")))).collect().head.getLong(0))
      }
    }
    val rows = mergeRows.result()
    val mergesDf =
      if (rows.isEmpty)
        vocab.sparkSession.emptyDataFrame
          .select(lit(1).as("step"), lit("").as("x"), lit("").as("y"),
            lit(0L).as("pair_count")).limit(0)
      else rows.toDF("step", "x", "y", "pair_count")
    (mergesDf.select("step", "x", "y", "pair_count"), vocab)
  }

  /** [[train]] with INCREMENTAL pair counts — the production shape for
    * real vocab scale (32k merges), where re-exploding every position of
    * every word per merge is the difference between hours and minutes.
    * The corpus-wide position explode happens exactly ONCE (the initial
    * histogram); from then on a persisted (x, y, pair_count) table is
    * maintained by delta: each step rewrites only the words that CONTAIN
    * the merged pair (a map-only in-row `exists` scan finds them — no
    * shuffle, no explode) and folds their before/after pair counts into
    * the table. Per-step shuffle is matched-positions + count-table
    * sized — the count table is DISTINCT adjacent pairs (alphabet-
    * bounded early, merge-bounded later), typically orders of magnitude
    * below the position count — measured in ShuffleGrowthSpec. The best
    * pair is TakeOrdered(1) straight off the count table.
    *
    * Identical output to [[train]] by construction (BpePropSpec pins
    * it): unmatched words keep their pair counts bit-for-bit, matched
    * words re-count through the same [[pairCountsOf]], and zero-count
    * pairs are dropped so exhaustion and tie-breaks agree.
    * @return (merges, vocab) exactly as [[train]] */
  def trainIncremental(words: DataFrame, steps: Int,
                       observe: Option[(String, Long) => Unit] = None)
      : (DataFrame, DataFrame) =
    boundedHistogram(words) match {
      // below the gate the incremental count table IS the driver loop's
      // recount (delta == recount is the operator's own invariant,
      // BpePropSpec-pinned); only the telemetry channel differs
      case Right(hist) => trainDriverLoop(words.sparkSession, hist, steps,
        observe, reportSymbols = false)
      case Left(wh) => trainIncrementalDistributed(wh, steps, observe)
    }

  /** The distributed delta-maintained loop — [[trainIncremental]]'s
    * path above the gate (ShuffleGrowthSpec pins its delta-sized
    * per-step shuffle directly). */
  private[graft] def trainIncrementalDistributed(words: DataFrame, steps: Int,
                       observe: Option[(String, Long) => Unit] = None)
      : (DataFrame, DataFrame) = {
    def report(stage: String)(rows: => Long): Unit = observe.foreach(_(stage, rows))
    val spark = words.sparkSession
    import spark.implicits._
    var vocab = Staging.stage(withCharSyms(words))
    // the one corpus-sized pass: the full pair histogram
    var counts = Staging.stage(pairCountsOf(positionsOf(vocab)))
    val mergeRows = Seq.newBuilder[(Int, String, String, Long)]
    var exhausted = false
    for (i <- 1 to steps if !exhausted) {
      // bounded 1-row driver collect, as in [[train]]: saves the staged
      // frame, the isEmpty probe, and the broadcast-build job per step
      val bpRows = counts
        .orderBy(col("pair_count").desc, col("x"), col("y")).limit(1)
        .collect()
      if (bpRows.isEmpty) exhausted = true
      else {
        val r = bpRows.head
        val (x0, y0, pc) = (r.getString(0), r.getString(1), r.getLong(2))
        mergeRows += ((i, x0, y0, pc))
        val bp = Seq((x0, y0, pc)).toDF("x", "y", "pair_count")
        // matched = words containing the pair adjacently — map-only scan
        // the size guard short-circuits single-symbol words: without it
        // sequence(1, 0) DESCENDS under Spark's default step and the
        // element_at probes throw under ANSI. Staged ONCE so the
        // vocab-wide exists scan is paid once per step, not re-evaluated
        // by each of the matched/untouched consumers.
        val flagged = Staging.stage(vocab.crossJoin(broadcast(bp))
          .withColumn("mt", size(col("syms")) > 1 && expr(
            """exists(sequence(1, size(syms) - 1),
                 j -> element_at(syms, j) = x AND element_at(syms, j + 1) = y)"""))
          .select("word", "cnt", "syms", "mt"))
        val matched = flagged.filter(col("mt")).select("word", "cnt", "syms")
        val untouched = flagged.filter(!col("mt")).select("word", "cnt", "syms")
        val mpos = Staging.stage(positionsOf(matched))
        val rewritten = Staging.stage(applyMerge(mpos, bp))
        // count delta: retract the matched words' old pairs, add their
        // new ones; everything else is untouched by the rewrite
        val delta = pairCountsOf(mpos)
          .select(col("x"), col("y"), (-col("pair_count")).as("pair_count"))
          .unionByName(pairCountsOf(positionsOf(rewritten)))
        counts = Staging.stage(counts.unionByName(delta)
          .groupBy("x", "y").agg(sum(col("pair_count")).as("pair_count"))
          .filter(col("pair_count") > 0))
        vocab = Staging.stage(untouched.unionByName(rewritten))
        report(s"bpe:step${i}_pair_count")(pc)
        report(s"bpe:step${i}_matched_words")(matched.count())
      }
    }
    val rows = mergeRows.result()
    val mergesDf =
      if (rows.isEmpty)
        vocab.sparkSession.emptyDataFrame
          .select(lit(1).as("step"), lit("").as("x"), lit("").as("y"),
            lit(0L).as("pair_count")).limit(0)
      else rows.toDF("step", "x", "y", "pair_count")
    (mergesDf.select("step", "x", "y", "pair_count"), vocab)
  }
}
