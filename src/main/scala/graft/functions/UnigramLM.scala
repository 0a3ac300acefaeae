package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** SentencePiece-style unigram language-model tokenizer: EM training
  * over a seed vocabulary with expected-count pruning, and Viterbi
  * segmentation under the trained piece log-probabilities — the OTHER
  * major tokenizer-training family next to BPE ([[TextOps.bpeTrain]]).
  * (Unigram LM tokenization per Kudo 2018, "Subword Regularization";
  * the algorithm is public literature — this is a from-scratch Spark
  * formulation.)
  *
  * Distributed shape: everything scales with the DISTINCT-WORD table,
  * not the corpus — tokenize → (word, freq) is one map-side-combinable
  * aggregation, and every EM pass is a flatMap over distinct words with
  * the current vocab BROADCAST, emitting (piece, fixed-point expected
  * count) pairs that one aggregation reduces (bounded by vocab size,
  * collected to the driver where the M-step is O(|vocab| log |vocab|)).
  * A 100 TB corpus has a words table in the millions of rows — the EM
  * cost is independent of corpus size beyond the first aggregation.
  *
  * Determinism stance (the t12 fixed-point move): per-word expected
  * counts are doubles computed in a fixed loop order (identical on
  * every executor), then floored to integer MICRO-UNITS and weighted by
  * the word frequency BEFORE the cross-word sum, so the aggregate is
  * exact long addition — the trained vocabulary is bit-identical under
  * any partitioning. Likewise the per-iteration corpus log-likelihood
  * is summed in micro-nats.
  */
object UnigramLM {

  final val Scale = 1e6

  /** Trained model: pieces sorted ascending, log-probs in nats, plus
    * the per-EM-iteration corpus log-likelihood in micro-nats (for
    * monotonicity checks). */
  final case class Model(pieces: Vector[(String, Double)],
      loglikTrace: Vector[Long]) {
    def logProbs: Map[String, Double] = pieces.toMap
    def maxPieceLen: Int =
      if (pieces.isEmpty) 1 else pieces.iterator.map(_._1.length).max
  }

  /** (word, freq) table of a corpus column — the only corpus-sized
    * aggregation in training. */
  def wordCounts(df: DataFrame, textCol: String): Dataset[(String, Long)] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(explode(TextOps.tokens(col(textCol))).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("f"))
      .as[(String, Long)]
  }

  /** Train a unigram LM tokenizer.
    *
    * @param vocabSize   target piece count (single chars always kept,
    *                    so the effective floor is the alphabet size)
    * @param maxPieceLen longest candidate piece
    * @param seedFactor  seed vocabulary = seedFactor * vocabSize most
    *                    frequent substrings
    * @param emIters     EM iterations between prunes
    * @param pruneKeep   fraction of multi-char pieces kept per prune */
  def train(df: DataFrame, textCol: String, vocabSize: Int,
      maxPieceLen: Int = 6, seedFactor: Int = 4, emIters: Int = 2,
      pruneKeep: Double = 0.75): Model = {
    val spark = df.sparkSession
    import spark.implicits._
    val words = wordCounts(df, textCol).localCheckpoint()

    // ---- seed: most frequent substrings (all occurrences, weighted by
    // word freq), single chars unconditionally ----
    val subCounts = words.flatMap { case (w, f) =>
      for {
        i <- 0 until w.length
        j <- (i + 1) to math.min(w.length, i + maxPieceLen)
      } yield (w.substring(i, j), f)
    }.groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
      .map { case (p, c) => (p, c) }
      .localCheckpoint() // two collects below (chars + top multi) — don't re-shuffle
    val chars = subCounts.filter(_._1.length == 1).collect().sortBy(_._1)
    val multi = subCounts.filter(_._1.length > 1)
      .orderBy(col("_2").desc, col("_1"))
      .limit(math.max(0, seedFactor * vocabSize - chars.length))
      .collect()
    var vocab: Vector[(String, Long)] = (chars ++ multi).toVector
      .sortBy(_._1)
    require(vocab.nonEmpty,
      "unigram-LM training needs a non-empty corpus (no tokens found)")

    val trace = Vector.newBuilder[Long]
    def emPass(cur: Vector[(String, Long)], iters: Int): Vector[(String, Long)] = {
      var v = cur
      for (_ <- 0 until iters) {
        val lp = toLogProbs(v)
        val bc = spark.sparkContext.broadcast(lp)
        val maxLen = v.iterator.map(_._1.length).max
        // E-step: fixed-point expected counts + loglik under key ""
        val agg = words.flatMap { case (w, f) =>
          val (exp, ll) = expectedCounts(w, bc.value, maxLen)
          exp.iterator.map { case (p, e) =>
            (p, math.floor(e * Scale).toLong * f)
          } ++ Iterator(("", math.floor(ll * Scale).toLong * f))
        }.groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
          .map { case (p, c) => (p, c) }
          .collect()
        bc.destroy()
        val m = agg.toMap
        trace += m.getOrElse("", 0L)
        // M-step: micro-unit counts become the new weights; chars keep a
        // floor of 1 so every word stays segmentable
        v = v.map { case (p, _) =>
          val c = m.getOrElse(p, 0L)
          (p, if (p.length == 1) math.max(c, 1L) else c)
        }.filter(_._2 > 0L).sortBy(_._1)
      }
      v
    }

    // ---- prune loop: EM, then drop the lowest-expected-count
    // multi-char pieces until the target size ----
    var size = vocab.length
    while (size > vocabSize) {
      vocab = emPass(vocab, emIters)
      val nChars = vocab.count(_._1.length == 1)
      val multiNow = vocab.filter(_._1.length > 1)
      val keep = math.max(vocabSize - nChars,
        math.min(multiNow.length - 1, (multiNow.length * pruneKeep).toInt))
      val kept = multiNow.sortBy { case (p, c) => (-c, p) }.take(keep)
      vocab = (vocab.filter(_._1.length == 1) ++ kept).sortBy(_._1)
      val newSize = vocab.length
      if (newSize == size) size = vocabSize // char floor reached — stop
      else size = newSize
    }
    vocab = emPass(vocab, emIters) // final fit at target size
    Model(toLogProbs(vocab).toVector.sortBy(_._1), trace.result())
  }

  private def toLogProbs(counts: Vector[(String, Long)]): Map[String, Double] = {
    val total = counts.iterator.map(_._2).sum.toDouble
    counts.iterator.map { case (p, c) => p -> (math.log(c) - math.log(total)) }
      .toMap
  }

  /** Forward-backward over one word's segmentation lattice: per-piece
    * expected occurrence counts and the word log-likelihood. Fixed
    * ascending loop order — bit-identical on every executor. */
  private[functions] def expectedCounts(w: String, lp: Map[String, Double],
      maxLen: Int): (collection.Map[String, Double], Double) = {
    val m = w.length
    val NegInf = Double.NegativeInfinity
    val alpha = Array.fill(m + 1)(NegInf); alpha(0) = 0.0
    val beta = Array.fill(m + 1)(NegInf); beta(m) = 0.0
    @inline def lse(a: Double, b: Double): Double =
      if (a == NegInf) b else if (b == NegInf) a
      else if (a > b) a + math.log1p(math.exp(b - a))
      else b + math.log1p(math.exp(a - b))
    var i = 0
    while (i < m) {
      if (alpha(i) != NegInf) {
        var j = i + 1
        while (j <= math.min(m, i + maxLen)) {
          val p = lp.get(w.substring(i, j))
          if (p.isDefined) alpha(j) = lse(alpha(j), alpha(i) + p.get)
          j += 1
        }
      }
      i += 1
    }
    i = m - 1
    while (i >= 0) {
      var j = i + 1
      while (j <= math.min(m, i + maxLen)) {
        val p = lp.get(w.substring(i, j))
        if (p.isDefined && beta(j) != NegInf)
          beta(i) = lse(beta(i), p.get + beta(j))
        j += 1
      }
      i -= 1
    }
    val z = alpha(m)
    val out = new scala.collection.mutable.HashMap[String, Double]
    if (z != NegInf) {
      i = 0
      while (i < m) {
        if (alpha(i) != NegInf) {
          var j = i + 1
          while (j <= math.min(m, i + maxLen)) {
            val piece = w.substring(i, j)
            val p = lp.get(piece)
            if (p.isDefined && beta(j) != NegInf) {
              val e = math.exp(alpha(i) + p.get + beta(j) - z)
              out.update(piece, out.getOrElse(piece, 0.0) + e)
            }
            j += 1
          }
        }
        i += 1
      }
    }
    (out, if (z == NegInf) 0.0 else z)
  }

  /** Viterbi segmentation of one word under trained log-probs.
    * Deterministic argmax: positions ascend, strict improvement
    * replaces, so ties keep the EARLIEST split point (the longest
    * final piece). Empty result iff some character is out-of-vocab. */
  def segment(w: String, lp: Map[String, Double], maxLen: Int): Seq[String] = {
    val m = w.length
    val NegInf = Double.NegativeInfinity
    val best = Array.fill(m + 1)(NegInf); best(0) = 0.0
    val prev = Array.fill(m + 1)(-1)
    var i = 0
    while (i < m) {
      if (best(i) != NegInf) {
        var j = i + 1
        while (j <= math.min(m, i + maxLen)) {
          val p = lp.get(w.substring(i, j))
          if (p.isDefined && best(i) + p.get > best(j)) {
            best(j) = best(i) + p.get
            prev(j) = i
          }
          j += 1
        }
      }
      i += 1
    }
    if (best(m) == NegInf) Seq.empty
    else {
      val out = List.newBuilder[String]
      val rev = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var j = m
      while (j > 0) { rev += ((prev(j), j)); j = prev(j) }
      rev.reverseIterator.foreach { case (a, b) => out += w.substring(a, b) }
      out.result()
    }
  }

  /** Integer Viterbi over one word: maximize the micro-nat score, tie
    * broken toward the FEWEST pieces — both criteria order-independent,
    * so the result is bit-identical under any evaluation order (the
    * property the DuckDB round-based replay of t19 relies on). Returns
    * the winning piece count, 0 iff the word is unsegmentable. */
  def viterbiMinPieces(w: String, wgt: Map[String, Long], maxLen: Int): Long = {
    val m = w.length
    val MinScore = Long.MinValue
    val best = Array.fill(m + 1)(MinScore); best(0) = 0L
    val np = Array.fill(m + 1)(Int.MaxValue); np(0) = 0
    var i = 0
    while (i < m) {
      if (best(i) != MinScore) {
        var j = i + 1
        while (j <= math.min(m, i + maxLen)) {
          val p = wgt.get(w.substring(i, j))
          if (p.isDefined) {
            val s = best(i) + p.get
            val k = np(i) + 1
            if (s > best(j) || (s == best(j) && k < np(j))) {
              best(j) = s; np(j) = k
            }
          }
          j += 1
        }
      }
      i += 1
    }
    if (best(m) == MinScore) 0L else np(m).toLong
  }

  /** t19's oracle-replayable rollout: Viterbi fertility under a PINNED
    * count-derived log-prob table instead of the float-EM-trained model
    * (t18 keeps the trained family; its EM is not SQL-replayable).
    *
    * The pinned table is the unigram SEED vocabulary: every single
    * character plus the `topMulti` most frequent substrings of length
    * 2..maxPieceLen (all occurrences, weighted by corpus word
    * frequency; ties broken by piece ascending), with micro-nat weights
    * `floor(1e6 * ln(c / total))` — the t12 float discipline: ln runs
    * on identical (count, total) integer operands in both engines and
    * is fixed-pointed BEFORE any summation, so the Viterbi DP is exact
    * long arithmetic end to end.
    *
    * Distributed shape: everything scales with the DISTINCT-WORD table
    * — substring counting and the per-word DP are flatMap/map over
    * distinct words with the (bounded, ≤ topMulti + alphabet) vocab
    * broadcast; the corpus-sized token stream is touched exactly twice,
    * once for the map-side-combinable word-frequency count and once for
    * the broadcast join carrying per-word piece counts back to docs. */
  def pinnedSegmentStats(df: DataFrame, idCol: String, textCol: String,
      maxPieceLen: Int = 4, topMulti: Int = 256): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val toks = df.select(col(idCol),
      explode(TextOps.tokens(col(textCol))).as("w"))
      .where(col("w") =!= "")
    val wf = toks.groupBy("w").agg(count(lit(1)).as("f"))
      .as[(String, Long)]
      .localCheckpoint() // materialize before the two downstream branches
    val subs = wf.flatMap { case (w, f) =>
      for {
        i <- 0 until w.length
        j <- (i + 1) to math.min(w.length, i + maxPieceLen)
      } yield (w.substring(i, j), f)
    }.groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
      .map { case (p, c) => (p, c) }
      .localCheckpoint()
    val chars = subs.filter(_._1.length == 1).collect()
    val multi = subs.filter(_._1.length > 1)
      .orderBy(col("_2").desc, col("_1"))
      .limit(topMulti).collect()
    val vocab = chars ++ multi
    val total = vocab.iterator.map(_._2).sum.toDouble
    val weights: Map[String, Long] = vocab.iterator.map { case (p, c) =>
      p -> math.floor(1e6 * math.log(c.toDouble / total)).toLong
    }.toMap
    val bc = spark.sparkContext.broadcast(weights)
    val wordPieces = wf.map { case (w, _) =>
      (w, viterbiMinPieces(w, bc.value, maxPieceLen))
    }.toDF("w", "npieces")
    val perDoc = toks.join(broadcast(wordPieces), "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("npieces")).as("n_pieces"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"))
  }

  /** Segment every document: (doc_id, n_tokens, n_pieces) — the
    * fertility view (pieces per whitespace token) a tokenizer rollout
    * is judged by. Model rides as a broadcast; one narrow map. */
  def segmentStats(df: DataFrame, idCol: String, textCol: String,
      model: Model): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast((model.logProbs, model.maxPieceLen))
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .map { case (id, text) =>
        if (text == null) (id, 0L, 0L) // null text = zero tokens (the
        else { // same row the tokenize-and-count contract would emit
          val (lp, maxLen) = bc.value
          val toks = text.trim.split("\\s+").filter(_.nonEmpty)
          val pieces = toks.iterator.map(t => segment(t, lp, maxLen).size).sum
          (id, toks.length.toLong, pieces.toLong)
        }
      }.toDF(idCol, "n_tokens", "n_pieces")
  }
}
