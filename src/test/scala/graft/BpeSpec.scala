package graft

import org.apache.spark.sql.functions._

import graft.llm.Bpe

/** Pins the BPE trainer against hand-computed merges — including the
  * repeated-symbol runs where the window formulation of the greedy
  * left-to-right scan could silently diverge from the sequential
  * algorithm (q104/q105's oracle replays the SAME formulation, so this
  * spec is the one place the formulation itself meets ground truth).
  */
class BpeSpec extends SparkSpec {

  private def hist(rows: (String, Long)*) = {
    import spark.implicits._
    rows.toDF("word", "cnt")
  }

  private def symsOf(vocab: org.apache.spark.sql.DataFrame): Map[String, Seq[String]] =
    vocab.collect().map(r => r.getString(0) -> r.getSeq[String](2).toSeq).toMap

  /** Run the gated public trainer (driver-resident at fixture scale) AND
    * the distributed loop, assert they agree, return the public result —
    * every hand-computed walkthrough below pins BOTH paths. */
  private def trainBoth(h: org.apache.spark.sql.DataFrame, steps: Int) = {
    val (md, vd) = Bpe.train(h, steps)
    val (mx, vx) = Bpe.trainDistributed(h, steps)
    assert(md.orderBy("step").collect().map(_.toSeq).toSeq ===
      mx.orderBy("step").collect().map(_.toSeq).toSeq,
      "driver-resident merges diverge from the distributed loop")
    assert(symsOf(vd) === symsOf(vx),
      "driver-resident vocab diverges from the distributed loop")
    (md, vd)
  }

  test("merges match the hand-computed walkthrough (hug/pug/pun/bun/hugs)") {
    // Sennrich-style fixture. Initial pair counts: (h,u)=15, (u,g)=20,
    // (p,u)=17, (u,n)=16, (b,u)=4, (g,s)=5 -> merge 1 is (u,g). That
    // merge REMOVES pug's (p,u) pair (its u is gone), so step 2 counts
    // (p,u)=12 only and (u,n)=16 wins; step 3 is (h,ug)=15.
    val (merges, vocab) = trainBoth(
      hist("hug" -> 10L, "pug" -> 5L, "pun" -> 12L, "bun" -> 4L, "hugs" -> 5L), 3)
    val got = merges.orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq((1, "u", "g", 20L), (2, "u", "n", 16L), (3, "h", "ug", 15L)))
    val s = symsOf(vocab)
    assert(s("hug") === Seq("hug"))
    assert(s("pug") === Seq("p", "ug"))
    assert(s("pun") === Seq("p", "un"))
    assert(s("bun") === Seq("b", "un"))
    assert(s("hugs") === Seq("hug", "s"))
  }

  test("an IntegerType cnt histogram trains the same merges on both sides of the gate") {
    val words = Seq("hug" -> 10, "pug" -> 5, "pun" -> 12, "bun" -> 4, "hugs" -> 5)
    def merges(s: org.apache.spark.sql.SparkSession) =
      Bpe.train(s.createDataFrame(words).toDF("word", "cnt"), 3)._1
        .orderBy("step").collect().map(_.toSeq).toSeq
    // the gate override rides a separate session, leaving the shared
    // session's conf untouched
    val distributed = spark.newSession()
    distributed.conf.set("spark.graft.tokenizer.driverTrainRows", "0")
    val want = Seq(Seq(1, "u", "g", 20L), Seq(2, "u", "n", 16L), Seq(3, "h", "ug", 15L))
    assert(merges(spark) === want, "driver-resident loop (default gate)")
    assert(merges(distributed) === want, "distributed loop (driverTrainRows=0)")
  }

  test("greedy left-to-right semantics on repeated-symbol runs") {
    // (a,a) dominates: "aaaa" -> [aa, aa] (even run), "aaa" -> [aa, a]
    // (odd run — the overlap case a sloppy window formulation miscounts)
    val (merges, vocab) = trainBoth(hist("aaaa" -> 10L, "aaa" -> 7L, "ab" -> 1L), 1)
    val m = merges.collect().head
    assert((m.getString(1), m.getString(2), m.getLong(3)) === (("a", "a", 44L)))
    val s = symsOf(vocab)
    assert(s("aaaa") === Seq("aa", "aa"))
    assert(s("aaa") === Seq("aa", "a"))
    assert(s("ab") === Seq("a", "b"))
  }

  test("merged symbols merge again (hierarchy builds: aa+aa -> aaaa)") {
    val (merges, vocab) = trainBoth(hist("aaaa" -> 10L, "ab" -> 1L), 2)
    val got = merges.orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq(("a", "a", 30L), ("aa", "aa", 10L)))
    assert(symsOf(vocab)("aaaa") === Seq("aaaa"))
  }

  test("single-char words pass through untouched; ties break lexicographically") {
    // (a,b) and (c,d) both count 5 -> (a,b) wins the tie
    val (merges, vocab) = trainBoth(hist("cd" -> 5L, "ab" -> 5L, "x" -> 99L), 1)
    val m = merges.collect().head
    assert((m.getString(1), m.getString(2)) === (("a", "b")))
    assert(symsOf(vocab)("x") === Seq("x"))
  }

  test("training is deterministic across runs") {
    val h = hist("hug" -> 10L, "pug" -> 5L, "pun" -> 12L, "bun" -> 4L, "hugs" -> 5L)
    def snap() = {
      val (m, v) = Bpe.train(h, 3)
      (m.orderBy("step").collect().map(_.toSeq).toSeq,
        v.orderBy("word").collect().map(_.toSeq).toSeq)
    }
    assert(snap() === snap())
  }
}
