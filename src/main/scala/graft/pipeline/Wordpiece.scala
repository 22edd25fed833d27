package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WordPiece tokenizer — the BERT family (Schuster & Nakajima 2012; the
  * HuggingFace `tokenizers` WordPiece trainer/encoder semantics), completing
  * the repo's tokenizer trio next to byte-pair encoding ([[Bpe]]) and the
  * unigram LM ([[Unigram]]).
  *
  * TRAIN is BPE-shaped — repeatedly merge the best adjacent symbol pair over
  * the distinct-word table — but the argmax is the LIKELIHOOD score
  * `count(pair) / (count(lhs) · count(rhs))` rather than the raw pair
  * frequency, and symbols carry the `##` continuation prefix: a word's
  * initial symbol is its first character, every later one is `##c`, and a
  * merge `lhs + ##xyz` spells `lhs + xyz` (the prefix marks position, not
  * content). Total argmax order: (score DESC, lhs ASC, rhs ASC) with the
  * string legs on UTF-8 bytes — both engines compute the score as one
  * IEEE-754 division of exact small-integer-valued doubles, so the order
  * (ties included) is engine-independent and the DuckDB oracle re-derives
  * the identical merge list.
  *
  * Unlike [[Bpe.train]], the driver loop is NOT batched, by necessity
  * rather than by omission: the parallel-BPE trick is UNSOUND under the
  * likelihood score. Applying a merge lowers the corpus counts of ITS two
  * symbols, which RAISES the scores of every untouched pair sharing either
  * symbol, and the pairs it creates around the merged token score
  * `c / (count(x) · freq)` — unbounded by any frequency-prefix rule when
  * `count(x)` is small. No argmax-order prefix of a candidate window is
  * stable, so each round applies exactly one merge (the HF trainer is
  * sequential for the same reason). Every round stays vocabulary-sized —
  * the distinct-word table, never the corpus.
  *
  * ENCODE is greedy longest-match-first (the WordPiece inference rule,
  * nothing like BPE's merge-order replay): from each position take the
  * LONGEST vocab piece (`##`-prefixed when not word-initial); any position
  * with no match — or a word beyond [[MaxInputChars]] codepoints — makes
  * the whole word a single `[UNK]` token. The vocabulary (alphabet + one
  * token per merge) is driver-sized by construction, so the per-word walk
  * runs once per DISTINCT word under a broadcast set and the corpus only
  * ever sees one guarded equi-join ([[Bpe.guardedDict]] — broadcast under
  * the LimitProbe bound, shuffled past it).
  *
  * Two merges may spell the same string (`a + ##bc` and `ab + ##c` both
  * make `abc`); both engines key symbol counts by the STRING, so the
  * conflated statistics — and therefore the argmax — agree, and the encode
  * vocabulary is a set where the duplicate is absorbed. No guard needed.
  */
object Wordpiece {

  /** One learned merge with the pair frequency at the time it was chosen
    * (`lhs + rhs → lhs ++ strip##(rhs)`). */
  final case class Merge(rank: Int, lhs: String, rhs: String, freq: Long)

  /** Trained tokenizer: the ordered merge list plus the encode vocabulary
    * (initial alphabet in both positional forms + one token per merge) —
    * driver-sized by construction, ~alphabet + numMerges entries. */
  final case class Model(merges: Seq[Merge], vocab: Set[String])

  /** HF WordPiece's `max_input_chars_per_word`: longer words are `[UNK]`
    * without attempting segmentation (codepoints, matching the oracle's
    * `length(word)`). */
  val MaxInputChars = 100

  private def strip(r: String): String =
    if (r.startsWith("##")) r.substring(2) else r

  /** Initial symbol sequence of a word column: first character bare, every
    * continuation character `##`-prefixed. Split-by-"" appends one trailing
    * empty string — filtered, the established idiom. */
  private def initialSyms(word: Column): Column = {
    val chars = filter(split(word, ""), c => c =!= "")
    zip_with(chars, sequence(lit(1), size(chars)), (c, i) =>
      when(i === 1, c).otherwise(concat(lit("##"), c)))
  }

  /** Pair counts, symbol counts, and the scored argmax in ONE task when
    * the whole word table sits in one partition (the
    * [[Bpe.topPairsSinglePartition]] posture): a SEQUENTIAL trainer's
    * per-round latency is otherwise dominated by multi-stage job
    * scheduling, not work — measured 1.2 s/merge through the DataFrame
    * chain vs ~0.1 s here on the 50k-word wide-vocab rehearsal.
    * Bit-identical to the distributed chain by the same total order
    * (score DESC, lhs, rhs on UTF-8 bytes; the score is the same one
    * IEEE division of exact integer counts) — spec-pinned. */
  private[pipeline] def topScoredPairSinglePartition(words: DataFrame)
      : Option[(String, String, Long)] = {
    val rdd = words.select(col("cnt"), col("syms")).rdd
    require(rdd.getNumPartitions == 1,
      "single-partition scored argmax on a multi-partition word table")
    rdd.mapPartitions { it =>
      val pairs = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      val syms = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { row =>
        val c = row.getLong(0)
        val ss = row.getSeq[String](1)
        var i = 0
        while (i < ss.length) {
          syms.update(ss(i), syms.getOrElse(ss(i), 0L) + c)
          if (i < ss.length - 1) {
            val key = (ss(i), ss(i + 1))
            pairs.update(key, pairs.getOrElse(key, 0L) + c)
          }
          i += 1
        }
      }
      if (pairs.isEmpty) Iterator.empty
      else {
        var bl: String = null; var br: String = null
        var bc = 0L; var bs = Double.NegativeInfinity
        pairs.foreach { case ((l, r), c) =>
          val sc = c.toDouble / (syms(l).toDouble * syms(r).toDouble)
          val wins =
            if (sc != bs) sc > bs
            else {
              val cl = Bpe.cmpUtf8(l, bl)
              cl < 0 || (cl == 0 && Bpe.cmpUtf8(r, br) < 0)
            }
          if (wins) { bl = l; br = r; bc = c; bs = sc }
        }
        Iterator.single((bl, br, bc))
      }
    }.collect().headOption
  }

  /** Train `numMerges` likelihood-scored merges on the corpus. Stops early
    * only if the vocabulary runs out of adjacent pairs — gate callers pair
    * the result with the unrolled SQL oracle and must pick `numMerges`
    * below that bound (same contract as [[Bpe.train]]). `minParts` exists
    * for the spec that pins the single-partition fast path equal to the
    * distributed chain — production callers never set it. */
  def train(docs: DataFrame, numMerges: Int,
      textCol: String = "text", minParts: Int = 1): Model = {
    val spark = docs.sparkSession
    require(numMerges >= 1, "need at least one merge")
    var words = Bpe.wordCounts(docs, textCol)
      .withColumn("syms", initialSyms(col("word")))
      .localCheckpoint(true)
    // vocabulary-proportional parallelism (the Bpe.train sizing): the
    // distinct-word table is tiny next to the corpus, so per-round stages
    // on the session's full shuffle width would be pure scheduling
    val width = spark.sessionState.conf.numShufflePartitions
    val parts = math.max(minParts.toLong, math.max(1L,
      math.min(width.toLong, words.count() / 65536L + 1L))).toInt
    words = words.repartition(parts).localCheckpoint(true)
    val vocab = scala.collection.mutable.HashSet.empty[String]
    words.select(explode(col("syms")).as("s")).distinct().collect()
      .foreach(r => vocab += r.getString(0))
    val merges = Seq.newBuilder[Merge]
    var done = 0
    var exhausted = false
    while (done < numMerges && !exhausted) {
      // one partition ⇒ pair + symbol counts and the scored argmax are
      // that task's local maps (one narrow job per round); wider tables
      // run the vocabulary-sized distributed chain: pair counts joined
      // with the two symbol counts, scored, global argmax — both joins
      // stay in one exchange at `parts` width.
      val cand: Option[(String, String, Long)] =
        if (parts == 1) topScoredPairSinglePartition(words)
        else {
          val sc = words.select(explode(col("syms")).as("s"), col("cnt"))
            .groupBy(col("s")).agg(sum(col("cnt")).as("c"))
          Bpe.pairCounts(words, parts, width)
            .join(sc.select(col("s").as("lhs"), col("c").as("cl")),
              Seq("lhs"))
            .join(sc.select(col("s").as("rhs"), col("c").as("cr")),
              Seq("rhs"))
            .select(col("lhs"), col("rhs"), col("freq"),
              (col("freq").cast("double") /
                (col("cl").cast("double") * col("cr").cast("double")))
                .as("sc"))
            .orderBy(col("sc").desc, col("lhs"), col("rhs"))
            .limit(1).collect().headOption
            .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        }
      if (cand.isEmpty) exhausted = true
      else {
        val (l, r, f) = cand.get
        done += 1
        val merged = l + strip(r)
        merges += Merge(done, l, r, f)
        vocab += merged
        // the merge travels as ONE broadcast single-row map (the Bpe.train
        // constant-plan idiom); driver key construction mirrors pairKey —
        // Spark's length() counts codepoints, not UTF-16 units
        val bdf = spark.createDataFrame(Seq((
            Seq(s"${l.codePointCount(0, l.length)}:$l$r"), Seq(merged))))
          .toDF("_ks", "_vs")
          .select(map_from_arrays(col("_ks"), col("_vs")).as("_m"))
        // LAZY checkpoint: the application materializes inside the next
        // round's argmax job (one Spark job per round, the Bpe lesson)
        // native merge-pass kernel (round-16, the Bpe.trainWords change):
        // same fold semantics, no per-element accumulator copy
        words = words.crossJoin(broadcast(bdf))
          .select(col("word"), col("cnt"),
            graft.functions.BpeMergePass.of(col("syms"), col("_m")).as("syms"))
          .localCheckpoint(false)
      }
    }
    Model(merges.result(), vocab.toSet)
  }

  /** The learned merge table (rank BIGINT, lhs, rhs, freq BIGINT) — the
    * t36 gate shape. The likelihood score itself stays internal (a plain
    * double; the integer pair frequency pins the same argmax choice). */
  def mergeTable(spark: SparkSession, model: Model): DataFrame = {
    import spark.implicits._
    model.merges.map(m => (m.rank.toLong, m.lhs, m.rhs, m.freq))
      .toDF("rank", "lhs", "rhs", "freq")
  }

  /** The `[UNK]` sentinel (the HF convention). Trained pieces come from
    * the lowercased corpus (merges of its characters), so no vocabulary
    * piece — and no lowercase-split corpus word — can ever spell this
    * uppercase string: a one-element `[UNK]` stream is unambiguously the
    * unmatchable-word case. */
  val UnkToken = "[UNK]"

  /** Greedy longest-match segmentation of one word into its PIECE
    * sequence (`##`-prefixed off-initial, as matched — the stream the
    * training shard holds). Codepoint-correct — match boundaries never
    * split a surrogate pair, so the walk agrees with the oracle's
    * codepoint `substring`. An unmatchable position (or an
    * over-[[MaxInputChars]] word) makes the whole word ONE [[UnkToken]],
    * the HF rule. */
  def encodeWordPieces(word: String, vocab: Set[String]): Array[String] = {
    if (word.isEmpty) Array.empty
    else if (word.codePointCount(0, word.length) > MaxInputChars)
      Array(UnkToken)
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var pos = 0
      while (pos < word.length) {
        var end = word.length
        var found = -1
        while (end > pos && found < 0) {
          val sub = word.substring(pos, end)
          val candPiece = if (pos == 0) sub else "##" + sub
          if (vocab.contains(candPiece)) found = end
          else end = word.offsetByCodePoints(end, -1)
        }
        if (found < 0) return Array(UnkToken)
        out += (if (pos == 0) word.substring(pos, found)
          else "##" + word.substring(pos, found))
        pos = found
      }
      out.toArray
    }
  }

  /** (token count, UNK?) of one word — derived from the piece walk so
    * the count path and the stream path can never drift (the empty word
    * falls out as (0, false) from the empty piece array — no second
    * copy of that contract here). */
  def encodeWord(word: String, vocab: Set[String]): (Long, Boolean) = {
    val p = encodeWordPieces(word, vocab)
    (p.length.toLong, p.length == 1 && p(0) == UnkToken)
  }

  /** Per-document WordPiece token STREAMS — the training-shard product
    * ([[encodeTokenCounts]] stops at counts): each document's full
    * in-order piece sequence under the trained vocab, `[UNK]` sentinels
    * included. The [[Bpe.tokenStreams]] shape: one POSITIONED explode
    * (positions from the raw token array so empty-split artifacts cannot
    * shift alignment), the greedy walk once per DISTINCT word, one
    * guarded equi-join back, one per-doc ordered flatten. */
  def tokenStreams(docs: DataFrame, model: Model,
      idCol: String = "doc_id", textCol: String = "text",
      dictBroadcastLimit: Long = Bpe.DictBroadcastLimit): DataFrame = {
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast(model.vocab)
    val piecesOf = udf((w: String) => encodeWordPieces(w, bc.value).toSeq)
    val pos = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(TextAnalysis.tokens(col(textCol))))
      .filter(col("col") =!= "")
    val wordTable = Bpe.guardedDict(
      pos.select(col("col").as("word")).distinct()
        .select(col("word"), piecesOf(col("word")).as("pieces")),
      dictBroadcastLimit)
    Bpe.flattenOrdered(
      pos.join(wordTable, col("col") === col("word"))
        .select(col(idCol), col("pos"), col("pieces")),
      idCol, "pieces")
  }

  /** Persist a trained tokenizer as two parquet tables — the merge list
    * and the vocabulary pieces (both driver-sized by construction) — the
    * build-once / encode-many lifecycle the [[Bpe.writeModel]] /
    * [[Unigram.writeModel]] twins establish. */
  def writeModel(spark: SparkSession, model: Model, dir: String): Unit = {
    import spark.implicits._
    mergeTable(spark, model).write.mode("overwrite").parquet(s"$dir/merges")
    model.vocab.toSeq.sorted.toDF("piece")
      .write.mode("overwrite").parquet(s"$dir/vocab")
  }

  def readModel(spark: SparkSession, dir: String): Model = {
    val merges = spark.read.parquet(s"$dir/merges")
      .orderBy(col("rank")).collect()
      .map(r => Merge(r.getAs[Long]("rank").toInt, r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[Long]("freq")))
      .toSeq
    val vocab = spark.read.parquet(s"$dir/vocab").collect()
      .map(_.getString(0)).toSet
    Model(merges, vocab)
  }

  /** Per-document WordPiece token counts — the corpus-scale encode path:
    * one explode, the greedy walk ONCE per distinct word under the
    * broadcast driver-sized vocabulary, and one guarded equi-join back
    * ([[Bpe.guardedDict]]: broadcast under the LimitProbe bound, shuffled
    * past it — the distinct-word table is corpus-derived and must never
    * carry an unconditional hint). Output per doc: every whitespace word
    * counted (`n_words`), WordPiece tokens with `[UNK]` contributing one
    * (`n_wp_tokens`), and the UNK-word count (`n_unk_words`). */
  def encodeTokenCounts(docs: DataFrame, model: Model,
      idCol: String = "doc_id", textCol: String = "text",
      dictBroadcastLimit: Long = Bpe.DictBroadcastLimit): DataFrame = {
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast(model.vocab)
    // one kernel invocation per distinct word (the UDF returns the
    // (count, unk) pair as a struct — two projections would walk twice)
    val enc = udf((w: String) => encodeWord(w, bc.value))
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
    val wordTable = Bpe.guardedDict(
      toks.select(col("word")).distinct()
        .select(col("word"), enc(col("word")).as("e"))
        .select(col("word"), col("e._1").as("np"), col("e._2").as("unk")),
      dictBroadcastLimit)
    toks.join(wordTable, Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("np")).as("n_wp_tokens"),
        sum(when(col("unk"), 1L).otherwise(0L)).as("n_unk_words"))
  }
}
