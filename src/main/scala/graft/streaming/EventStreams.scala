package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the events stream — the
  * beyond-parity extension (the reference is strictly request/response;
  * SURVEY §2.8). Batch equivalents of these operators are
  * oracle-checked in EventsPack (q60/q61/q64); the streaming versions
  * share the same column logic so batch == stream semantics.
  *
  * Scale notes: windowed aggregates with watermarks bound state size;
  * sessionization uses mapGroupsWithState with processing-time-free,
  * event-time-driven state so replays are deterministic.
  */
object EventStreams {

  /** Source schema for `ts` shipped as int64 nanos (see
    * Tables.normalizeEventTs — the testdata has also shipped `ts` as a
    * micro-precision timestamp, which `readEventStream` detects).
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-based event stream: one parquet file per micro-batch.
    * readStream requires a declared schema, and the files' `ts` type has
    * varied across testdata generations (int64 nanos vs micro-precision
    * timestamp) — peek at the directory with a one-footer batch read and
    * declare what is actually there, then normalize to the
    * (`ts_ns` long, `ts` timestamp) pair all operators use.
    */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = spark.read.parquet(dir).schema("ts").dataType
    val schema = StructType(eventSchema.map {
      case f if f.name == "ts" => f.copy(dataType = tsType)
      case f => f
    })
    graft.Tables.normalizeEventTs(
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir))
  }

  /** Tumbling 1h windowed aggregate with a watermark (stream form of
    * q60_hourly_agg).
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  case class SessionState(lastTsNs: Long, sessions: Long, events: Long)
  case class UserSessions(user_id: Long, n_events: Long, n_sessions: Long)

  /** Custom-state sessionization (stream form of q61_sessionize): a new
    * session opens when the gap since the previous event exceeds
    * `gapNs`. State per user = (last event time, session count).
    */
  def sessionize(events: DataFrame, gapNs: Long = 1800L * 1000 * 1000 * 1000)
      : Dataset[UserSessions] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("ts_ns"), col("event_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[SessionState, UserSessions](GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          sorted.foreach { case (_, tsNs, _) =>
            val isNew = st.lastTsNs == Long.MinValue || tsNs - st.lastTsNs > gapNs
            st = SessionState(tsNs, st.sessions + (if (isNew) 1 else 0), st.events + 1)
          }
          state.update(st)
          UserSessions(userId, st.events, st.sessions)
      }
  }

  case class OpenSession(sid: Long, startNs: Long, lastNs: Long,
                         nEvents: Long)
  case class ClosedSession(user_id: Long, session_id: Long,
                           session_start: Long, session_end: Long,
                           n_events: Long, duration_ns: Long,
                           is_bounce: Boolean)

  /** Streaming per-session statistics — the stream form of
    * `EventAnalytics.sessionStats`: sessions CLOSE when the next event
    * arrives past the gap, and each closed session is emitted exactly
    * once with the same (ordinal id, start, end, count, duration,
    * bounce) row the batch operator computes. The still-open session
    * per user stays in state (the batch pass would emit it; a stream
    * can't know it's finished — the one honest semantic difference,
    * pinned in the spec as batch == emitted ∪ open).
    *
    * State per user is ONE open-session tuple — constant size,
    * independent of history length; per batch, rows sort by (ts, id),
    * the batch window's total order.
    */
  def sessionStatsStream(events: DataFrame,
                         gapNs: Long = 1800L * 1000 * 1000 * 1000)
      : Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("ts_ns"), col("event_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[OpenSession]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var st = state.getOption
          val out = scala.collection.mutable.ArrayBuffer[ClosedSession]()
          sorted.foreach { case (_, tsNs, _) =>
            st match {
              case Some(s) if tsNs - s.lastNs <= gapNs =>
                st = Some(s.copy(lastNs = tsNs, nEvents = s.nEvents + 1))
              case Some(s) =>
                out += ClosedSession(userId, s.sid, s.startNs, s.lastNs,
                  s.nEvents, s.lastNs - s.startNs, s.nEvents == 1)
                st = Some(OpenSession(s.sid + 1, tsNs, tsNs, 1L))
              case None =>
                st = Some(OpenSession(1L, tsNs, tsNs, 1L))
            }
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  /** Streaming exact dedup — the stream form of Dedup.exactDedup: keep
    * the first event per content hash, with state bounded by the
    * watermark horizon (late duplicates beyond it are not caught; that
    * is the standard state/recall trade). At scale the state store
    * holds one 16-byte md5 key per distinct content in the horizon.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String] = Seq("props"),
                  watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .withColumn("content_hash", md5(concat_ws("\u0000", keyCols.map(col): _*)))
      .dropDuplicatesWithinWatermark("content_hash")

  /** Windowed count-min sketch over the stream: one mergeable d×w
    * counter matrix per hour window. `CmsSketch` is a
    * `TypedImperativeAggregate` whose state merges associatively, so
    * micro-batch partials combine exactly like batch map-side partials
    * and the streamed sketch is BIT-IDENTICAL to the batch one — the
    * property that lets a streaming ingest maintain the same heavy-
    * hitter index the batch pipeline queries.
    */
  def hourlySketch(events: DataFrame, depth: Int = 4,
                   width: Int = 256): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.Graft.cmsSketch(
        graft.functions.TextFunctions.md5Long(col("user_id").cast("string")),
        depth, width).as("sketch"))
      .select(col("window.start").as("window_start"), col("sketch"))

  /** Windowed KMV distinct-count sketch over the stream — the
    * cardinality sibling of [[hourlySketch]]: one mergeable k-minimum-
    * values state per hour window, so the streamed per-window
    * distinct-user estimates are BIT-IDENTICAL to the batch sketch
    * (the internal k-minima state is a set-union fold — associative
    * and commutative across micro-batch partials; the surfaced value
    * is the estimate).
    */
  def hourlyDistinctSketch(events: DataFrame, k: Int = 64): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.Graft.kmvSketch(
        graft.functions.TextFunctions.md5Long(col("user_id").cast("string")),
        k).as("est_distinct"))
      .select(col("window.start").as("window_start"), col("est_distinct"))

  /** Stream-static incremental dedup — the streaming form of
    * `Dedup.crossCorpusDedup`'s exact probe: every micro-batch of
    * incoming documents is anti-joined against the STATIC corpus hash
    * set (re-planned per batch, broadcast when small) and then deduped
    * against the stream's own history (`dropDuplicates` keyed by the
    * 16-byte content hash — one state row per distinct new content).
    * This is the continuously-ingesting pipeline shape: corpus cost is
    * paid once at plan time, per-batch cost scales with the batch.
    *
    * State bound: pass `eventTimeCol` (+ `watermark`) to dedup within
    * the watermark horizon — one state row per distinct content INSIDE
    * the horizon, evicted past it (late re-arrivals beyond the horizon
    * are not caught; the standard state/recall trade, same as
    * `dedupStream`). Without an event-time column the in-stream dedup
    * is exact but state grows with distinct content forever — only fit
    * for bounded backfills (`Trigger.AvailableNow`), not an unbounded
    * ingest.
    */
  def corpusDedupStream(newDocs: DataFrame, corpus: DataFrame,
                        textCol: String = "text",
                        eventTimeCol: Option[String] = None,
                        watermark: String = "2 hours"): DataFrame = {
    val corpusHashes = corpus
      .select(md5(col(textCol)).as("content_hash")).distinct()
    val fresh = newDocs
      .withColumn("content_hash", md5(col(textCol)))
      .join(corpusHashes, Seq("content_hash"), "left_anti")
    eventTimeCol match {
      case Some(ts) => fresh.withWatermark(ts, watermark)
        .dropDuplicatesWithinWatermark("content_hash")
      case None => fresh.dropDuplicates("content_hash")
    }
  }

  /** Stream-static incremental dedup in its 100 TB form — the streaming
    * twin of `Dedup.crossCorpusDedupLsh`: the near-dup probe is a
    * MinHash BAND-KEY equi-join against the static corpus signature
    * table (bands keys per corpus doc — precomputable — instead of
    * ~|doc| shingle postings), candidates verified against the exact
    * shingle Jaccard, decisions per batch doc: (id, exact_dup, n_near,
    * is_new). Identical decision semantics to the batch operator
    * (spec-pinned stream==batch); probe traffic ∝ batch, corpus work is
    * one static plan.
    *
    * Plan shape: the whole pipeline is stateless maps + stream-static
    * joins + ONE update-mode aggregate keyed by doc id (each doc
    * arrives once, so its final row carries the complete decision).
    * Stream-side signatures recompute md5 per permutation (no cache
    * barrier exists inside a streaming plan) — acceptable because that
    * cost is batch-proportional; the CORPUS side reuses cached hash
    * arrays like the batch operator.
    */
  def corpusDedupStreamLsh(newDocs: DataFrame, corpus: DataFrame,
                           idCol: String = "doc_id", textCol: String = "text",
                           n: Int = 3, k: Int = 16, bands: Int = 4,
                           threshold: Double = 0.5): DataFrame = {
    import graft.functions.TextFunctions._
    require(k % bands == 0,
      s"bands ($bands) must divide k ($k) or trailing signature rows are silently unused")
    val rowsPer = k / bands
    // static corpus structures (at scale: precomputed tables)
    val shC = graft.pipeline.Dedup.shingleSets(corpus, idCol, textCol, n)
      .select(col("id").as("__cid"), col("shingle_set").as("__sb"))
      .cache()
    val bandedC = shC
      .select(col("__cid"), col("__sb"),
        transform(col("__sb"), t => md5Long(t)).as("__hashes"))
      .cache()
      .select(col("__cid"), col("__sb"),
        explode(lshBandKeys(minhashFromHashes(col("__hashes"), k),
          bands, rowsPer)).as("band_key"))
    val corpusHashes = corpus
      .select(md5(col(textCol)).as("__h")).distinct()
      .withColumn("__hit", lit(true))
    // stream side: hash + shingle + band-explode are stateless maps
    val docs = newDocs
      .select(col(idCol), col(textCol),
        md5(col(textCol)).as("__h"),
        array_distinct(shingles(tokens(col(textCol)), n)).as("__sa"))
      .join(corpusHashes, Seq("__h"), "left")
      .withColumn("exact_dup", coalesce(col("__hit"), lit(false)))
    val banded = docs.select(col(idCol), col("__sa"), col("exact_dup"),
      explode(lshBandKeys(minhashSignature(col("__sa"), k), bands, rowsPer))
        .as("band_key"))
    // candidate = any shared band (left join keeps no-candidate docs);
    // verification inline, so the aggregate sees only narrow columns
    val verified = banded
      .join(bandedC, Seq("band_key"), "left")
      .select(col(idCol), col("exact_dup"),
        when(col("__cid").isNotNull &&
          round(jaccard(col("__sa"), col("__sb")), 6) >= threshold,
          col("__cid")).as("__near_id"))
    // countDistinct is not stream-legal; collect_set (null-skipping,
    // mergeable state) + size gives the same distinct-candidate count
    verified
      .groupBy(col(idCol))
      .agg(first(col("exact_dup")).as("exact_dup"),
        size(collect_set(col("__near_id"))).cast("long").as("n_near"))
      .select(col(idCol), col("exact_dup"), col("n_near"),
        (!col("exact_dup") && col("n_near") === 0).as("is_new"))
  }

  /** Stream-static SimHash dedup gate — the streaming twin of
    * `Dedup.crossCorpusDedupSimhash` and the 18th stream==batch pin
    * (r11 order sheet #4: the streaming arm covered MinHash-LSH but
    * nothing in the SimHash family). The static corpus compresses once
    * at plan time into the multi-word wide-sketch index
    * (`Dedup.simhashTableWide` — precomputable at 100 TB); every batch
    * doc is sketched STATELESSLY (per-row HOF folds over its token
    * hashes — `Dedup.simhashWideFromHashes`, bit-identical to the
    * aggregate form; a streaming plan cannot aggregate before its
    * probe join), probed by the (wordIdx, wordValue) equi-join —
    * pigeonhole-exact for maxDist ≤ words−1 — and rolled up by ONE
    * update-mode aggregate keyed by doc id. Decision rows
    * (id, n_near, is_new) are identical to the batch operator's
    * (spec-pinned); token-less docs carry no sketch and decide
    * (0, true) in both forms.
    */
  def corpusDedupStreamSimhash(newDocs: DataFrame, corpus: DataFrame,
                               idCol: String = "doc_id",
                               textCol: String = "text", words: Int = 4,
                               bitsPerWord: Int = 60,
                               maxDist: Int = 3): DataFrame = {
    import graft.functions.TextFunctions._
    require(maxDist <= words - 1,
      "word blocking is exact only for maxDist <= words-1")
    val chunkedC = graft.pipeline.Dedup
      .simhashTableWide(corpus, idCol, textCol, words, bitsPerWord)
      .select(col("id").as("__cid"), col("simhash").as("__csk"))
      .cache()
      .select(col("__cid"), col("__csk"),
        posexplode(col("__csk")).as(Seq("wi", "wv")))
    // hash once per token into its own projection (a non-cheap alias,
    // so CollapseProject keeps the barrier and the words×bitsPerWord
    // sketch folds below read the materialized array, not the char fold)
    val hashed = newDocs.select(col(idCol),
      transform(tokens(col(textCol)), t => polyHash(t)).as("__hashes"))
    val withSk = hashed.select(col(idCol),
      when(size(col("__hashes")) > 0,
        graft.pipeline.Dedup.simhashWideFromHashes(col("__hashes"), words,
          bitsPerWord)).as("__sk"))
    val hamming = aggregate(
      zip_with(col("__sk"), col("__csk"),
        (a, b) => bit_count(a.bitwiseXOR(b))),
      lit(0), (acc, x) => acc + x)
    withSk
      .select(col(idCol), col("__sk"),
        posexplode_outer(col("__sk")).as(Seq("wi", "wv")))
      .join(chunkedC, Seq("wi", "wv"), "left")
      .select(col(idCol),
        when(col("__cid").isNotNull && hamming <= maxDist, col("__cid"))
          .as("__near_id"))
      .groupBy(col(idCol))
      .agg(size(collect_set(col("__near_id"))).cast("long").as("n_near"))
      .select(col(idCol), col("n_near"), (col("n_near") === 0).as("is_new"))
  }

  /** Streaming Bloom decontamination — the streaming twin of
    * `Corpus.bloomDecontaminate` and the cheapest member of the
    * stream-screening family: the static eval/blocklist corpus
    * compresses ONCE (at plan time) into a fixed-size Bloom bit array
    * (`functions.BloomSketch`, default 4 KiB) embedded in the plan as a
    * literal — the production shape, where the sketch is a precomputed
    * blob shipped with the job — and every batch shingle probes it with
    * pure codegen'd column arithmetic (`Graft.bloomContains`). Per-batch
    * cost is stateless maps + ONE update-mode aggregate keyed by doc id
    * (each doc arrives once, its row carries the complete decision);
    * nothing about the corpus is ever shuffled or joined. Decision
    * semantics identical to the batch operator's probe side
    * (spec-pinned stream==batch): no false negatives, deterministic
    * false positives. Docs with no shingles (empty text) emit no row.
    */
  def corpusDecontaminateStreamBloom(newDocs: DataFrame, corpus: DataFrame,
                                     idCol: String = "doc_id",
                                     textCol: String = "text", n: Int = 5,
                                     bits: Int = 32768,
                                     hashes: Int = 3): DataFrame = {
    import graft.functions.TextFunctions._
    val words = corpus
      .select(explode(array_distinct(shingles(tokens(col(textCol)), n)))
        .as("__s"))
      .agg(graft.Graft.bloomSketch(md5Long(col("__s")), bits, hashes)
        .as("__bloom"))
      .collect()(0).getSeq[Long](0)
    val sketch = typedLit(words)
    newDocs
      .select(col(idCol),
        explode(array_distinct(shingles(tokens(col(textCol)), n))).as("__s"))
      .withColumn("__hit",
        graft.Graft.bloomContains(sketch, md5Long(col("__s")), bits, hashes))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__hit"), 1L).otherwise(0L)).as("n_flagged"))
      .select(col(idCol), col("n_shingles"), col("n_flagged"),
        (col("n_flagged") > 0).as("flagged"))
  }

  /** Streaming contamination REPORT — the exact-overlap member of the
    * stream-screening family (the batch pipeline can REPORT
    * contamination via `Corpus.evalOverlapReport`; this gives the
    * streaming ingest the same audit): every arriving train doc probes
    * the STATIC eval corpus's distinct n-gram shingle set and emits a
    * per-doc collision report (id, n_grams, n_dirty, dirty_permille) —
    * `n_dirty`/`contaminated` agree row-for-row with batch
    * `Corpus.decontaminate` over the same partition (spec-pinned
    * stream==batch).
    *
    * Compare `corpusDecontaminateStreamBloom`: that ships a 4 KiB
    * sketch with deterministic false positives; this keeps the exact
    * vocabulary (benchmark-sized, a static broadcast-able side) and is
    * exact. Plan shape: stateless shingle maps + ONE stream-static
    * equi-join on the shingle value + ONE update-mode aggregate keyed
    * by doc id; the eval side is computed once at plan time and reused
    * every micro-batch. Probe traffic ∝ batch size; never pairwise.
    */
  def evalOverlapStream(newDocs: DataFrame, evalCorpus: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text",
                        n: Int = 13): DataFrame = {
    import graft.functions.TextFunctions._
    // cache: a stream-static join re-evaluates the static side every
    // micro-batch — uncached, each trigger would re-shingle and
    // re-distinct the whole eval corpus (r8 code review; same
    // convention as corpusDedupStreamLsh's cached corpus tables)
    val evalShingles = evalCorpus
      .select(explode(array_distinct(shingles(tokens(col(textCol)), n)))
        .as("__s"))
      .distinct()
      .withColumn("__hit", lit(true))
      .cache()
    // explode_outer + non-null counting: a doc with NULL text (or no
    // shingles) must still emit its (0, 0, 0, false) row — plain
    // explode would drop it from the stream report while batch
    // decontaminate's join-back reports it (r8 ADVICE)
    newDocs
      .select(col(idCol),
        explode_outer(array_distinct(shingles(tokens(col(textCol)), n)))
          .as("__s"))
      .join(evalShingles, Seq("__s"), "left")
      .groupBy(col(idCol))
      .agg(sum(when(col("__s").isNotNull, 1L).otherwise(0L)).as("n_grams"),
        sum(when(col("__hit"), 1L).otherwise(0L)).as("n_dirty"))
      .select(col(idCol), col("n_grams"), col("n_dirty"),
        when(col("n_grams") === 0, 0L)
          .otherwise(expr("(1000L * n_dirty) div n_grams"))
          .as("dirty_permille"),
        (col("n_dirty") > 0).as("contaminated"))
  }

  /** Streaming FUZZY-contamination PAIR report — the near-dup member of
    * the stream-screening family and `Corpus.evalNearDupReport`'s
    * streaming twin: every arriving TRAIN doc probes the STATIC eval
    * corpus's precomputed MinHash band-key table, band collisions are
    * verified with the exact shingle Jaccard, and each surviving
    * (eval_id, train_id, jaccard) evidence row is emitted — the audit
    * trail a benchmark-contamination claim attaches to, now produced
    * AT INGEST instead of in a nightly batch. Row-identical to the
    * batch report restricted to the arrived docs (spec-pinned
    * stream==batch).
    *
    * Plan shape: stateless shingle/band maps on the stream side + ONE
    * stream-static equi-join on the band key (the eval side is
    * benchmark-sized — cached once at plan time, broadcast in
    * practice) + verification inline before the pair dedup. The only
    * state is `dropDuplicates` on the emitted pair key (a pair
    * colliding in several bands must emit once): state rows = true
    * report rows, bounded by |eval|×(near-dup train docs) — fine for
    * bounded backfills and for any ingest whose report is expected to
    * be small (contamination is the exception, not the rule). For an
    * UNBOUNDED noisy ingest, pass `tsCol` (the stream's event-time
    * column): the pair dedup becomes `dropDuplicatesWithinWatermark`
    * under a `watermark` delay — state rows expire once the watermark
    * passes them, so state is bounded by the report rate × the
    * watermark window instead of growing forever. Semantics trade: a
    * pair re-colliding AFTER its state expired re-emits (an audit
    * consumer dedups downstream at its own retention); within the
    * window, rows are exactly the unwindowed report's (spec-pinned),
    * with the event-time column carried through as evidence.
    */
  def evalNearDupStream(newTrainDocs: DataFrame, evalCorpus: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text",
                        n: Int = 3, k: Int = 16, bands: Int = 4,
                        threshold: Double = 0.5,
                        tsCol: Option[String] = None,
                        watermark: String = "1 hour"): DataFrame = {
    import graft.functions.TextFunctions._
    require(k % bands == 0,
      s"bands ($bands) must divide k ($k) or trailing signature rows are silently unused")
    val rowsPer = k / bands
    // static eval structures (at scale: precomputed signature tables);
    // cached so each micro-batch re-plan reuses them (the
    // corpusDedupStreamLsh convention)
    val shE = evalCorpus
      .select(col(idCol).as("eval_id"),
        array_distinct(shingles(tokens(col(textCol)), n)).as("__se"))
      .cache()
    val bandedE = shE
      .select(col("eval_id"), col("__se"),
        transform(col("__se"), t => md5Long(t)).as("__hashes"))
      .cache()
      .select(col("eval_id"), col("__se"),
        explode(lshBandKeys(minhashFromHashes(col("__hashes"), k),
          bands, rowsPer)).as("band_key"))
    // stream side: shingle + band-explode are stateless maps; the band
    // join is STRICTLY across the eval/train bipartition by
    // construction (one side per stream), never train×train. The
    // watermark (when windowed) is declared on the SOURCE so it
    // propagates through the maps and the stream-static join.
    val trainSrc = tsCol match {
      case Some(t) => newTrainDocs.withWatermark(t, watermark)
      case None    => newTrainDocs
    }
    val tsCols = tsCol.map(col).toSeq
    val banded = trainSrc
      .select(Seq(col(idCol).as("train_id"),
        array_distinct(shingles(tokens(col(textCol)), n)).as("__sa")) ++
        tsCols: _*)
      .select(Seq(col("train_id"), col("__sa"),
        explode(lshBandKeys(minhashSignature(col("__sa"), k),
          bands, rowsPer)).as("band_key")) ++ tsCols: _*)
    val verified = banded.join(bandedE, Seq("band_key"))
      .withColumn("jaccard", round(jaccard(col("__sa"), col("__se")), 6))
      .filter(col("jaccard") >= threshold)
      .select(Seq(col("eval_id"), col("train_id"), col("jaccard")) ++
        tsCols: _*)
    tsCol match {
      case Some(_) =>
        verified.dropDuplicatesWithinWatermark("eval_id", "train_id")
      case None =>
        verified.dropDuplicates("eval_id", "train_id")
    }
  }

  /** Stream-stream interval join: pair each right-side event with the
    * same user's left-side events whose timestamp lies in
    * [r_ts − maxGap, r_ts] — the canonical attribution join ("which
    * clicks preceded this purchase within the window"). Watermarks on
    * BOTH sides plus the time-bound condition let Spark evict buffered
    * state past watermark+interval, so join state is bounded at any
    * scale; without the bound a stream-stream join would buffer
    * forever. The equi-key (user_id) makes it a hash-partitioned join —
    * shuffle on user, no broadcast, skew handled by AQE in batch and by
    * state-store partitioning in streams.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   maxGapSec: Long = 3600,
                   watermark: String = "2 hours"): DataFrame = {
    val l = left.select(col("user_id").as("l_user"), col("ts").as("l_ts"),
      col("event_id").as("l_event_id"), col("event_type").as("l_type"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col("user_id").as("r_user"), col("ts").as("r_ts"),
      col("event_id").as("r_event_id"), col("event_type").as("r_type"))
      .withWatermark("r_ts", watermark)
    l.join(r,
      col("l_user") === col("r_user") &&
        col("l_ts") >= col("r_ts") - expr(s"INTERVAL $maxGapSec SECONDS") &&
        col("l_ts") <= col("r_ts"))
      .select(col("l_user").as("user_id"), col("l_event_id"), col("l_ts"),
        col("r_event_id"), col("r_ts"))
  }

  /** Run a streaming query to completion over the currently-available
    * files (one batch per file) into an in-memory table; returns the
    * final result. Used by tests to pin stream==batch semantics.
    */
  /** Streaming CDC apply: fold each micro-batch of keyed changes into
    * the running target with `CdcMerge.applyChanges` — the Structured
    * Streaming form of MERGE INTO (exactly what a lakehouse sink runs
    * inside foreachBatch). Sequential per-batch application equals one
    * big-batch merge whenever sequence numbers respect batch order
    * (true of any CDC log: later batches carry later seqs) — the
    * stream==batch property StreamingSpec pins. The target is
    * localCheckpoint-ed between batches, so each merge reads
    * materialized state, not a growing plan. Returns the final target
    * after the stream drains (AvailableNow).
    */
  def applyChangesStream(target: DataFrame, changes: DataFrame,
                         keyCols: Seq[String], opCol: String,
                         seqCol: String): DataFrame = {
    @volatile var state = target.localCheckpoint()
    val fold: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) => {
        state = graft.operators.CdcMerge
          .applyChanges(state, batch.toDF(), keyCols, opCol, seqCol)
          .localCheckpoint()
      }
    val q = changes.writeStream
      .foreachBatch(fold)
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    state
  }

  /** Streaming incremental connected components — the stream form of
    * the q202 operator: arriving edge micro-batches fold into the
    * label table via `Components.incrementalComponents` (CC on the
    * CONTRACTED label graph, cost ∝ batch + touched components). The
    * fold is ORDER-INSENSITIVE — min-label merging is confluent, so
    * any batch split converges to the full-graph CC (the spec pins
    * label-identical to `connectedComponentsFast` over all edges).
    * This is how a live dedup index maintains cluster membership as a
    * crawl streams in, without ever re-running CC on the corpus.
    */
  def incrementalCcStream(edges: DataFrame,
                          initialLabels: DataFrame): DataFrame = {
    @volatile var state = initialLabels.localCheckpoint()
    val fold: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) => {
        val b = batch.toDF()
        // seed self-labels for endpoints first seen in THIS batch:
        // incrementalComponents' inner label-join silently drops any
        // edge whose endpoint has no label row, so a live crawl would
        // otherwise lose every merge involving a brand-new vertex
        val eps = b.select(col("src").as("id"))
          .union(b.select(col("dst").as("id"))).distinct()
        val seeded = state.union(
          eps.join(state, Seq("id"), "left_anti")
            .select(col("id"), col("id").as("component")))
        state = graft.graph.Components
          .incrementalComponents(seeded, b)
          .localCheckpoint()
      }
    val q = edges.writeStream
      .foreachBatch(fold)
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    state
  }

  case class LastEvent(tsNs: Long, eventId: Long, eventType: String)
  case class Transition(user_id: Long, prev_type: String, next_type: String)

  /** Streaming Markov transitions — the stream form of
    * `EventAnalytics.transitionMatrix`: per user, every consecutive
    * event pair emits one (prev_type → next_type) row; aggregating the
    * emitted rows gives exactly the batch transition matrix whenever
    * per-user event-time order is respected across micro-batches (true
    * of an ordered log replay; the standard stateful-stream caveat).
    * State per user is ONE last-event tuple — constant, never the
    * history. Within a batch rows sort by (ts, id), the same total
    * order the batch lag window uses.
    */
  def transitionStream(events: DataFrame): Dataset[Transition] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id"), col("ts_ns"), col("event_id"),
        col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[LastEvent, Transition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[LastEvent]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var last = state.getOption
          val out = sorted.flatMap { case (_, tsNs, id, tpe) =>
            val t = last.map(l => Transition(userId, l.eventType, tpe))
            last = Some(LastEvent(tsNs, id, tpe))
            t
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  /** Streaming incremental table checksum — the stream form of
    * `Stats.tableChecksum`: the order-invariant md5-fold sum is
    * commutative and associative, so a running (n_rows, fold-sum)
    * aggregate maintains the EXACT batch checksum incrementally as
    * appends arrive (integrity monitoring of a replicated append
    * stream without rescanning). The mod-2⁶⁰ reduction applies at
    * read time; internal state is the exact DECIMAL(38,0) sum —
    * constant size, mergeable across micro-batches.
    */
  def checksumStream(rows: DataFrame,
                     fingerprint: org.apache.spark.sql.Column): DataFrame = {
    val h = conv(substring(md5(fingerprint), 1, 15), 16, 10).cast("long")
    rows
      .agg(count(lit(1)).as("n_rows"),
        sum(h.cast("decimal(38,0)")).as("__sum"))
      .select(col("n_rows"),
        pmod(col("__sum"), lit(1L << 60).cast("decimal(38,0)")).cast("long")
          .as("checksum"))
  }

  case class TouchState(firstId: Long, firstNs: Long, firstType: String,
                        lastId: Long, lastNs: Long, lastType: String)
  case class Attribution(user_id: Long, conv_id: Long, conv_ns: Long,
                         first_id: Option[Long], first_ns: Option[Long],
                         first_type: Option[String], last_id: Option[Long],
                         last_ns: Option[Long], last_type: Option[String])

  /** Streaming first/last-touch attribution — the stream form of
    * `EventAnalytics.touchAttribution`: per user, touch events fold
    * into ONE constant-size (first, last) state tuple; every
    * conversion event emits one attribution row against the state at
    * that point. Aggregation-free append output; emitted rows equal
    * the batch operator's exactly whenever per-user event-time order
    * is respected across micro-batches (ordered log replay — the same
    * caveat as `transitionStream`). Within a batch rows sort by
    * (ts, id), the batch window's total order.
    */
  def attributionStream(events: DataFrame, touchTypes: Seq[String],
                        convType: String): Dataset[Attribution] = {
    val spark = events.sparkSession
    import spark.implicits._
    val touches = touchTypes.toSet
    events.select(col("user_id"), col("ts_ns"), col("event_id"),
        col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TouchState, Attribution](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[TouchState]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var st = state.getOption
          val out = sorted.flatMap { case (_, tsNs, id, tpe) =>
            if (touches.contains(tpe)) {
              st = Some(st match {
                case Some(s) => s.copy(lastId = id, lastNs = tsNs, lastType = tpe)
                case None    => TouchState(id, tsNs, tpe, id, tsNs, tpe)
              })
              None
            } else if (tpe == convType) {
              Some(st match {
                case Some(s) => Attribution(userId, id, tsNs,
                  Some(s.firstId), Some(s.firstNs), Some(s.firstType),
                  Some(s.lastId), Some(s.lastNs), Some(s.lastType))
                case None => Attribution(userId, id, tsNs,
                  None, None, None, None, None, None)
              })
            } else None
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  def runToMemory(df: DataFrame, queryName: String,
                  outputMode: OutputMode = OutputMode.Update()): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    df.sparkSession.table(queryName)
  }
}
