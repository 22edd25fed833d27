package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer: distributed pair-count training + corpus
  * encoding (Sennrich, Haddow & Birch, ACL 2016 — the subword vocabulary
  * every modern LLM data pipeline tokenizes with; GPT-2's BPE is the same
  * algorithm over bytes).
  *
  * Training is the classic word-level formulation, re-expressed in the
  * shape that survives 100 TB:
  *
  *   1. ONE full-corpus shuffle builds the distinct-word table
  *      `(word, cnt)` — at web scale that's ~10⁷ rows regardless of corpus
  *      size, so every later step is vocabulary-sized, not corpus-sized.
  *   2. Each merge round runs on the word table only: adjacent-pair counts
  *      via a guarded index explode + one map-side-partial groupBy, a
  *      deterministic argmax (freq DESC, lhs ASC, rhs ASC — total order, so
  *      the learned vocab is engine-exact), and a map-side merge
  *      application. Rounds are BATCHED: a symbol-disjoint argmax-prefix
  *      of merges — provably the exact sequential sequence, see [[train]]
  *      — applies in one fused pass, so a 32k-vocab production train is
  *      ~numMerges/avgBatch driver rounds, not numMerges. The batch
  *      travels as a BROADCAST single-row map frame, not literals, so all
  *      rounds share one compiled plan shape (the repo's changing-literal
  *      codegen lesson), and each round is localCheckpoint-truncated so
  *      lineage stays O(1).
  *   3. The per-round argmax `.limit(maxBatch + 1).collect()` moves a
  *      bounded handful of rows to the driver — the same bounded-collect
  *      posture as [[Similarity]]'s trainSample.
  *
  * Pair counts follow the reference convention: every adjacent POSITION
  * counts (a word `aaaa` holds three `(a,a)` pairs), weighted by word
  * frequency. Merge application is one greedy left-to-right pass replacing
  * non-overlapping occurrences (`aaaa` --(a,a)--> `[aa,aa]`, `aaa` -->
  * `[aa,a]`); newly created symbols never re-merge with the same pair in
  * the same round — exactly the reference implementations' semantics, and
  * exactly reproducible in SQL as repeated first-occurrence replacement
  * (the t16 oracle's recursive CTE), which is equivalent because a merge
  * `(l,r)→lr` can never create a NEW `(l,r)` occurrence (`lr` is strictly
  * longer than both `l` and `r`).
  *
  * Encoding at corpus scale is NOT per-token fold math: applying the
  * learned merges in rank order to a word is deterministic per distinct
  * word, so the trained word table IS the encoding dictionary — encoding
  * a corpus is one explode + one equi-join on the word key
  * ([[encodeTokenCounts]]). The dictionary side broadcasts only under
  * the [[graft.util.LimitProbe]] guard: on a web-scale corpus the
  * distinct-word table is 10⁸–10⁹ rows and a forced broadcast hint is a
  * driver OOM, so past the guard the join runs as a plain shuffled
  * equi-join (the d16/d18 posture). Words the dictionary has never seen
  * take the OOV leg inside the SAME left-outer join: unmatched rows
  * fall through a lazy CaseWhen into [[encodeWordGreedy]], the
  * merge-priority greedy encoder production BPE runs on novel words —
  * tail-sized work in a single corpus pass — so batch encoding is TOTAL
  * and equals the streaming path
  * ([[graft.streaming.EventStreams.tokenizeStream]]) on any corpus. The
  * per-word rank-order fold ([[encodeWord]]) remains as the spec's
  * independent oracle.
  */
object Bpe {

  /** One learned merge: `lhs + rhs → lhs ++ rhs`, with the pair frequency
    * at the time it was chosen. */
  final case class Merge(rank: Int, lhs: String, rhs: String, freq: Long)

  /** Trained tokenizer: the ordered merge list plus the encoded vocabulary
    * `(word, cnt, syms)` — `syms` is the word's final BPE symbol sequence,
    * i.e. the result of applying `merges` in rank order to its characters.
    * `driverRounds` counts the batched driver-loop iterations the train
    * took (≤ merges.size; the batching win a rehearsal can report). */
  final case class Model(merges: Seq[Merge], vocab: DataFrame,
      driverRounds: Int = 0)

  /** Distinct-word counts of the corpus — the one corpus-sized shuffle in
    * BPE training (map-side partial counts make it cheap even at 100 TB). */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** Adjacent symbol pairs of every vocab word, position-counted and
    * frequency-weighted. The index sequence is guarded (`size >= 2`)
    * because Spark's `sequence(1, 0)` runs DESCENDING — the repo's
    * established n-gram pitfall.
    *
    * `parts < sessionWidth` means the word table is small enough that
    * vocabulary-proportional parallelism kicked in ([[train]]) — then the
    * aggregation runs over ONE narrow `parts`-wide exchange instead of a
    * session-width shuffle (32 near-empty reduce tasks per merge round
    * measured ~0.1 s of pure scheduling each round). Map-side combine is
    * worthless on a table that tiny; at real vocab scale `parts` hits the
    * session width and the plain groupBy keeps its partial aggregation. */
  private[pipeline] def pairCounts(words: DataFrame, parts: Int,
      sessionWidth: Int): DataFrame = {
    val pairs = words
      .select(col("cnt"), col("syms"),
        explode(when(size(col("syms")) >= 2,
            sequence(lit(1), size(col("syms")) - 1))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(element_at(col("syms"), col("i")).as("lhs"),
        element_at(col("syms"), col("i") + 1).as("rhs"), col("cnt"))
    val clustered =
      if (parts < sessionWidth) pairs.repartition(parts, col("lhs"), col("rhs"))
      else pairs
    clustered.groupBy(col("lhs"), col("rhs")).agg(sum(col("cnt")).as("freq"))
  }

  /** The argmax total order — (freq DESC, lhs ASC, rhs ASC) — with the
    * string legs compared on UTF-8 BYTES, exactly Spark's (and DuckDB's)
    * binary string order; Scala's default String ordering compares UTF-16
    * units and diverges beyond the BMP. */
  /** Spark's OWN string comparator (UTF-8 bytes) — every driver-side
    * fast path compares through this ONE helper so none can drift from
    * the groupBy path's sort even if Spark's collation details move
    * (shared with [[Wordpiece.topScoredPairSinglePartition]]). */
  private[graft] def cmpUtf8(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  private[pipeline] val pairOrdering: Ordering[(String, String, Long)] =
    new Ordering[(String, String, Long)] {
      def compare(p: (String, String, Long), q: (String, String, Long)): Int = {
        val f = java.lang.Long.compare(q._3, p._3) // freq DESC
        if (f != 0) f
        else {
          val l = cmpUtf8(p._1, q._1)
          if (l != 0) l else cmpUtf8(p._2, q._2)
        }
      }
    }

  /** Top-k pairs when the WHOLE word table sits in one partition (the
    * vocabulary-proportional small end of [[train]]): the pair count is a
    * single task's local hash map — one narrow 1-task job per round, no
    * exchange, no extra query stages. Bit-identical to the groupBy path
    * by the shared [[pairOrdering]] (spec-pinned against it). */
  private[pipeline] def topPairsSinglePartition(words: DataFrame,
      k: Int): Array[(String, String, Long)] = {
    val rdd = words.select(col("cnt"), col("syms")).rdd
    require(rdd.getNumPartitions == 1,
      "single-partition argmax on a multi-partition word table")
    rdd.mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[(String, String), Long]
      it.foreach { row =>
        val c = row.getLong(0)
        val syms = row.getSeq[String](1)
        var i = 0
        while (i < syms.length - 1) {
          val key = (syms(i), syms(i + 1))
          m.update(key, m.getOrElse(key, 0L) + c)
          i += 1
        }
      }
      m.iterator.map { case ((l, r), f) => (l, r, f) }
        .toArray.sorted(pairOrdering).take(k).iterator
    }.collect()
  }

  /** One greedy left-to-right merge pass over a symbol array. Nested
    * `when` (lazy CaseWhen branches) keeps the `element_at` off empty
    * accumulators under ANSI evaluation. */
  def applyMergeFold(syms: Column, l: Column, r: Column): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) === 0, concat(acc, array(x)))
        .otherwise(
          when(element_at(acc, -1) === l && x === r,
            concat(slice(acc, lit(1), size(acc) - 1), array(concat(l, r))))
            .otherwise(concat(acc, array(x)))))

  /** The length-prefixed pair key `len(l) ":" l r` — unambiguous without
    * trusting any delimiter to stay out of the symbols (the prefix says
    * where `l` ends). Built identically on the map side and the probe
    * side of [[applyMergeMapFold]]. */
  private def pairKey(l: Column, r: Column): Column =
    concat(length(l).cast("string"), lit(":"), l, r)

  /** One greedy left-to-right pass applying a whole BATCH of merges via a
    * map lookup (`m`: pairKey → merged symbol). For a symbol-disjoint
    * batch this is exactly equal to applying the batch members one after
    * another in rank order ([[applyMergeFold]] per member): no occurrence
    * of one member can overlap an occurrence of another (they would have
    * to share the symbol at the overlap position), so the per-pair greedy
    * passes commute and fuse into one. `try_element_at` keeps the absent-
    * key probe null under ANSI evaluation. */
  def applyMergeMapFold(syms: Column, m: Column): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) === 0, concat(acc, array(x)))
        .otherwise {
          val merged = try_element_at(m, pairKey(element_at(acc, -1), x))
          when(merged.isNotNull,
            concat(slice(acc, lit(1), size(acc) - 1), array(merged)))
            .otherwise(concat(acc, array(x)))
        })

  /** Train `numMerges` merges on the corpus. Stops early (fewer merges)
    * only if the vocabulary runs out of adjacent pairs — callers that pair
    * the result with the unrolled SQL oracle must pick `numMerges` below
    * that bound (the oracle's per-round CTEs assume a non-empty argmax).
    *
    * The driver loop is BATCHED (the parallel-BPE trick): each round
    * collects the top `maxBatch + 1` pairs and applies, in ONE fused
    * pass, the maximal argmax-order prefix that is (a) pairwise
    * symbol-disjoint, (b) concat-collision-free (no batch member's merged
    * string equals an existing symbol or another member's symbols),
    * (c) strictly above the first excluded pair's frequency, and
    * (d) closed by any SELF-pair member (l == r) — nothing may follow
    * one. That prefix is provably the exact sequential merge sequence:
    * applying an accepted pair cannot change the count of any other
    * accepted pair (every destroyed pair occurrence contains one of its
    * symbols, every created pair contains its merged symbol — which,
    * collision-free, is NEW), and every pair outside the batch —
    * preexisting, decreased, or newly created — stays strictly below
    * every accepted frequency, so each sequential argmax picks the batch
    * members in order. The created-pair bound is where (d) earns its
    * keep: a non-self member's created pairs are bounded by an old pair
    * SHARING one of its symbols (e.g. (x,lr) by (x,l)), which is distinct
    * from every batch member and therefore ranks at or past the stop
    * pair; but a self-pair's created pairs — (lr,l), (l,lr), (lr,lr),
    * from runs of three-plus l's — derive from occurrences of the
    * self-pair ITSELF and are bounded only by its own frequency, so any
    * member after it could be out-argmaxed by them (measured divergence
    * on 'aaa'×10 + 'xy'×3 before the close rule). Spec-pinned:
    * `maxBatch = 1` reproduces the same
    * merge list on the gate corpus and on a crafted tie/collision-heavy
    * corpus. A 32k-vocab production train thus runs in
    * ~numMerges/avgBatch driver rounds instead of numMerges, and every
    * round stays vocabulary-sized, never corpus-sized. */
  def train(docs: DataFrame, numMerges: Int,
      textCol: String = "text", maxBatch: Int = 64): Model = {
    // chars: split("", -1) appends one trailing empty string — drop it
    trainWords(wordCounts(docs, textCol)
        .withColumn("syms", filter(split(col("word"), ""), c => c =!= "")),
      numMerges, maxBatch)
  }

  /** The symbolization-agnostic trainer body: `words0` is the distinct
    * word table already carrying its INITIAL symbol sequence (`word`,
    * `cnt`, `syms`) — codepoints for [[train]], hex byte pairs for
    * [[ByteBpe.train]]. Everything below the symbolization (pair counts,
    * batched argmax, merge application, checkpoint cadence) is identical
    * between the two families by construction — one copy, so a batching
    * fix cannot land char-side and miss the byte side. */
  private[pipeline] def trainWords(words0: DataFrame, numMerges: Int,
      maxBatch: Int): Model = {
    val spark = words0.sparkSession
    require(numMerges >= 1, "need at least one merge")
    require(maxBatch >= 1, "need a positive merge batch bound")
    var words = words0.localCheckpoint(true)
    // vocabulary-proportional parallelism: the distinct-word table is
    // tiny next to the corpus (tens of rows here, ~10⁷ at web scale), so
    // per-round stages on the session's full shuffle width would be pure
    // task-scheduling overhead — one partition per 64k words, capped at
    // the session width
    val width = spark.sessionState.conf.numShufflePartitions
    val parts = math.max(1L,
      math.min(width.toLong, words.count() / 65536L + 1L)).toInt
    words = words.repartition(parts).localCheckpoint(true)
    // the symbol UNIVERSE is driver-sized by construction — the initial
    // alphabet plus one new symbol per merge — so the batch rule's
    // collision probe is a local set lookup
    val symbols = scala.collection.mutable.HashSet.empty[String]
    words.select(explode(col("syms")).as("s")).distinct().collect()
      .foreach(r => symbols += r.getString(0))
    val merges = Seq.newBuilder[Merge]
    var done = 0
    var rounds = 0
    var exhausted = false
    while (done < numMerges && !exhausted) {
      // one partition ⇒ the pair count is that task's local map: one
      // narrow job per round instead of an exchange + extra query stages
      val cand =
        if (parts == 1) topPairsSinglePartition(words, maxBatch + 1)
        else pairCounts(words, parts, width)
          .orderBy(col("freq").desc, col("lhs"), col("rhs"))
          .limit(maxBatch + 1).collect() // bounded rows per round
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (cand.isEmpty) exhausted = true
      else {
        rounds += 1
        val touched = scala.collection.mutable.HashSet.empty[String]
        val accepted = Seq.newBuilder[(String, String, Long)]
        var stopFreq = -1L // sentinel: no stop pair seen
        var closed = false // a SELF-pair closes the batch (see below)
        var i = 0
        while (i < cand.length && stopFreq < 0L && !closed) {
          val (l, r, f) = cand(i)
          val cat = l + r
          if (touched(l) || touched(r) || touched(cat) || symbols(cat))
            stopFreq = f
          else {
            accepted += ((l, r, f))
            touched += l; touched += r; touched += cat
            // a self-pair (l == r) must be the batch's LAST member: the
            // pairs ITS application creates — (lr,l), (l,lr), (lr,lr),
            // from runs of three-plus l's — derive from occurrences of
            // the pair itself, so they are bounded by its OWN frequency,
            // not by anything ranked past the batch; a later member could
            // be out-argmaxed by them. The strict above-stop filter still
            // applies against the next candidate.
            if (l == r) {
              closed = true
              if (i + 1 < cand.length) stopFreq = cand(i + 1)._3
            }
          }
          i += 1
        }
        // an overlap-free scan that RAN OFF the collected window proves
        // nothing about pair maxBatch+2 — treat the window edge as the
        // stop pair; a fully-scanned shorter candidate list IS the whole
        // remaining pair set, no stop needed
        if (stopFreq < 0L && cand.length > maxBatch)
          stopFreq = cand.last._3
        var batch =
          if (stopFreq < 0L) accepted.result()
          else accepted.result().filter(_._3 > stopFreq)
        if (batch.isEmpty) batch = Seq(cand.head) // forced sequential step
        batch = batch.take(numMerges - done)
        batch.foreach { case (l, r, f) =>
          done += 1
          merges += Merge(done, l, r, f)
          symbols += (l + r)
        }
        // the whole batch travels as ONE broadcast single-row map —
        // constant plan shape across rounds (the changing-literal codegen
        // lesson). The key/value ARRAYS are built on the driver (the
        // batch is driver data already), so the broadcast side is a bare
        // LocalRelation projection: its build collects driver-locally and
        // submits NO Spark job — an aggregated broadcast side costs a
        // two-stage job EVERY round (measured ~40% of round latency).
        // Driver key construction must mirror [[pairKey]]: Spark's
        // length() counts codepoints, not UTF-16 units
        val bdf = spark.createDataFrame(Seq((
            batch.map { case (l, r, _) =>
              s"${l.codePointCount(0, l.length)}:$l$r"
            },
            batch.map { case (l, r, _) => l + r }
          ))).toDF("_ks", "_vs")
          .select(map_from_arrays(col("_ks"), col("_vs")).as("_m"))
        // LAZY checkpoint: the merge application materializes inside the
        // NEXT round's argmax job instead of a job of its own — one Spark
        // job per driver round, half the round latency of an eager pin;
        // lineage still truncates at every round once computed
        // native merge-pass kernel (round-16 optimization): the HOF fold
        // rebuilt the accumulator array per element — quadratic copying
        // per word, paid every driver round; [[applyMergeMapFold]] stays
        // as the spec twin BpeSpec pins element-for-element
        words = words.crossJoin(broadcast(bdf))
          .select(col("word"), col("cnt"),
            graft.functions.BpeMergePass.of(col("syms"), col("_m")).as("syms"))
          .localCheckpoint(false)
      }
    }
    Model(merges.result(), words, rounds)
  }

  /** The learned merge table as a DataFrame (rank BIGINT, lhs, rhs,
    * freq BIGINT) — the t16 gate shape. */
  def mergeTable(spark: SparkSession, model: Model): DataFrame = {
    import spark.implicits._
    model.merges.map(m => (m.rank.toLong, m.lhs, m.rhs, m.freq))
      .toDF("rank", "lhs", "rhs", "freq")
  }

  /** Default row bound under which an encode dictionary may broadcast —
    * ~2M word rows is comfortably inside executor/driver memory; past it
    * the encode joins stay shuffled (the d18 bound). */
  val DictBroadcastLimit = 2000000L

  /** Broadcast `dict` only when the O(limit) [[graft.util.LimitProbe]]
    * says it is small enough; otherwise return it unhinted so the join
    * shuffles. A corpus- or vocab-derived dictionary must NEVER carry an
    * unconditional broadcast hint — at web scale the distinct-word table
    * is 10⁸–10⁹ rows and the forced hint is a driver OOM. */
  private[pipeline] def guardedDict(dict: DataFrame, limit: Long): DataFrame =
    if (graft.util.LimitProbe.atMost(dict, limit)) broadcast(dict) else dict

  /** Merge-priority lookup for [[encodeWordGreedy]]: (lhs, rhs) → rank,
    * lowest rank winning if a pair ever appears twice. Driver-sized (one
    * entry per learned merge) — broadcast it once and encode forever. */
  def rankMap(merges: Seq[Merge]): Map[(String, String), Int] = {
    val m = scala.collection.mutable.HashMap.empty[(String, String), Int]
    merges.foreach { mg =>
      val k = (mg.lhs, mg.rhs)
      // true MIN over ranks (not first-seen), so the contract holds for
      // any list order — mirrors the t29 oracle's MIN(rank)
      if (m.get(k).forall(_ > mg.rank)) m.update(k, mg.rank)
    }
    m.toMap
  }

  /** The production BPE encoder (the HuggingFace/SentencePiece encode
    * loop): repeatedly merge the LEFTMOST occurrence of the lowest-rank
    * adjacent pair until no learned pair applies. Cost O(len²) map
    * probes per word — independent of merge count, unlike the
    * [[encodeWord]] fold whose PLAN is linear in merges (a 32k-merge
    * expression chain would not survive Catalyst analysis).
    *
    * Equal to applying the merges in rank order ([[encodeWord]]): within
    * one pair's occurrences, a merge (l,r)→lr can never create a new
    * (l,r) adjacency (lr is strictly longer than both), and the pairs it
    * does create involve the NEW symbol lr, whose merges were learned
    * later and therefore rank higher — so the priority loop visits pairs
    * in exactly rank order. The one theoretical exception is a vocabulary
    * where a later merge's concatenation string-collides with an earlier
    * pair's symbol (two merges spelling the same string); spec-pinned
    * equal on the gate and wide-vocab models, where no collision exists.
    * Splits on CODEPOINTS, matching the corpus split semantics. */
  def encodeWordGreedy(word: String,
      ranks: collection.Map[(String, String), Int]): Array[String] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    var ci = 0
    while (ci < word.length) {
      val cp = word.codePointAt(ci)
      buf += new String(Character.toChars(cp))
      ci += Character.charCount(cp)
    }
    greedyMergeLoop(buf, ranks)
  }

  /** The rank-priority merge loop shared by [[encodeWordGreedy]] and
    * [[ByteBpe.encodeWordGreedy]] — only the initial symbolization
    * differs between the families. Mutates and drains `buf`. */
  private[pipeline] def greedyMergeLoop(
      buf: scala.collection.mutable.ArrayBuffer[String],
      ranks: collection.Map[(String, String), Int]): Array[String] = {
    var more = buf.length >= 2
    while (more) {
      var bestRank = Int.MaxValue
      var bestI = -1
      var i = 0
      while (i < buf.length - 1) {
        ranks.get((buf(i), buf(i + 1))) match {
          case Some(r) if r < bestRank => bestRank = r; bestI = i
          case _ => ()
        }
        i += 1
      }
      if (bestI < 0) more = false
      else {
        buf(bestI) = buf(bestI) + buf(bestI + 1)
        buf.remove(bestI + 1)
        more = buf.length >= 2
      }
    }
    buf.toArray
  }

  /** Per-document BPE token counts — the corpus-scale encode path: one
    * explode, ONE left-outer equi-join against the trained word table
    * (broadcast only under the [[graft.util.LimitProbe]] guard — see the
    * object doc), one per-doc aggregation. Words the dictionary has
    * never seen take the OOV leg IN the same join: the unmatched rows'
    * null dictionary count falls through a lazy CaseWhen into
    * [[encodeWordGreedy]] against the broadcast merge ranks (the greedy
    * kernel runs ONLY on the OOV tail — CaseWhen branches are lazy per
    * row), so encoding is TOTAL in a single corpus pass — `n_words`
    * counts every whitespace word and novel words contribute their
    * greedy subword count, exactly the streaming path's
    * ([[graft.streaming.EventStreams.tokenizeStream]]) semantics. */
  def encodeTokenCounts(docs: DataFrame, model: Model,
      idCol: String = "doc_id", textCol: String = "text",
      dictBroadcastLimit: Long = DictBroadcastLimit): DataFrame =
    encodeTokenCountsWith(docs, model, idCol, textCol, dictBroadcastLimit,
      encodeWordGreedy, "n_bpe_tokens")

  /** The kernel-agnostic count-encode body shared with
    * [[ByteBpe.encodeTokenCounts]] — the two families differ only in the
    * OOV symbolization (codepoints vs UTF-8 bytes) and the output column
    * name; the join shape, broadcast guard and totality contract are one
    * copy. */
  private[pipeline] def encodeTokenCountsWith(docs: DataFrame, model: Model,
      idCol: String, textCol: String, dictBroadcastLimit: Long,
      kernel: (String, collection.Map[(String, String), Int]) => Array[String],
      outCol: String): DataFrame = {
    val spark = docs.sparkSession
    val dict = guardedDict(
      model.vocab.select(col("word"),
        size(col("syms")).cast("long").as("n_sub")),
      dictBroadcastLimit)
    val bc = spark.sparkContext.broadcast(rankMap(model.merges))
    val oovLen = udf((w: String) => kernel(w, bc.value).length.toLong)
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
    toks.join(dict, Seq("word"), "left_outer")
      .select(col(idCol),
        when(col("n_sub").isNotNull, col("n_sub"))
          .otherwise(oovLen(col("word"))).as("n_sub"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as(outCol))
  }

  /** Per-document BPE token STREAMS — the actual training-shard product
    * ([[encodeTokenCounts]] stops at counts): each document's full
    * in-order subword sequence under the trained vocab. Same 100 TB
    * shape as the count path — one POSITIONED explode (positions from
    * the raw token array, so empty-split artifacts cannot shift
    * alignment), ONE guarded left-outer equi-join from word to its
    * symbol array (unmatched rows fall through a lazy CaseWhen into the
    * greedy kernel — the OOV tail only), one per-doc ordered flatten;
    * the stream is total (the [[encodeTokenCounts]] contract). */
  def tokenStreams(docs: DataFrame, model: Model,
      idCol: String = "doc_id", textCol: String = "text",
      dictBroadcastLimit: Long = DictBroadcastLimit): DataFrame =
    tokenStreamsWith(docs, model, idCol, textCol, dictBroadcastLimit,
      encodeWordGreedy)

  /** Kernel-agnostic stream-encode body (the [[encodeTokenCountsWith]]
    * factoring, stream side) shared with [[ByteBpe.tokenStreams]]. */
  private[pipeline] def tokenStreamsWith(docs: DataFrame, model: Model,
      idCol: String, textCol: String, dictBroadcastLimit: Long,
      kernel: (String, collection.Map[(String, String), Int]) => Array[String])
      : DataFrame = {
    val spark = docs.sparkSession
    val dict = guardedDict(model.vocab.select(col("word"), col("syms")),
      dictBroadcastLimit)
    val bc = spark.sparkContext.broadcast(rankMap(model.merges))
    val oovSyms = udf((w: String) => kernel(w, bc.value).toSeq)
    val pos = docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(TextAnalysis.tokens(col(textCol))))
      .filter(col("col") =!= "")
    flattenOrdered(
      pos.join(dict, col("col") === col("word"), "left_outer")
        .select(col(idCol), col("pos"),
          when(col("syms").isNotNull, col("syms"))
            .otherwise(oovSyms(col("col"))).as("syms")),
      idCol, "syms")
  }

  /** The ordered-flatten tail every tokenizer family's stream path
    * shares — rows of (id, pos, seqCol: array<string>) to per-id
    * in-order flattened `stream`. ONE copy of the idiom (used by this
    * object's [[tokenStreams]] and [[Wordpiece.tokenStreams]]), so a
    * sort_array edge-case fix cannot land in one family and miss
    * another. */
  private[pipeline] def flattenOrdered(rows: DataFrame, idCol: String,
      seqCol: String): DataFrame =
    rows.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("pos"), col(seqCol))))
        .as("arr"))
      .select(col(idCol),
        flatten(transform(col("arr"), x => x.getField(seqCol)))
          .as("stream"))

  /** Persist a trained tokenizer as two parquet tables — the merge list
    * (rank, lhs, rhs, freq: KBs, broadcastable forever) and the encoded
    * vocabulary (word, cnt, syms: the corpus-scale encode dictionary) —
    * the build-once / encode-many lifecycle, mirroring
    * [[Similarity.writePqIndex]]: train on one corpus snapshot, encode
    * every later batch from any session against the frozen vocab (OOV
    * words route through [[encodeWordGreedy]] under the re-read merges'
    * rank map — the total-encode contract survives the round trip). */
  def writeModel(spark: SparkSession, model: Model, dir: String): Unit = {
    mergeTable(spark, model).write.mode("overwrite")
      .parquet(s"$dir/merges")
    model.vocab.write.mode("overwrite").parquet(s"$dir/vocab")
  }

  def readModel(spark: SparkSession, dir: String): Model = {
    val merges = spark.read.parquet(s"$dir/merges")
      .orderBy(col("rank")).collect()
      .map(r => Merge(r.getAs[Long]("rank").toInt, r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[Long]("freq")))
      .toSeq
    Model(merges, spark.read.parquet(s"$dir/vocab"))
  }

  /** Encode ONE word column by applying the merge list in rank order —
    * the spec's independent oracle for both the join path and
    * [[encodeWordGreedy]]. A chain of `numMerges` interpreted folds per
    * row whose PLAN is linear in merge count: fine as a small-model
    * reference, wrong for a whole corpus (use [[encodeTokenCounts]]) and
    * wrong for a production-size vocabulary anywhere (a 32k-merge nested
    * expression tree does not survive Catalyst — use the greedy kernel). */
  def encodeWord(word: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(filter(split(word, ""), c => c =!= "")) { (syms, m) =>
      applyMergeFold(syms, lit(m.lhs), lit(m.rhs))
    }
}
