package graft.operators

import graft.{OpQuery, Tables}
import graft.functions.GraftFunctions
import graft.functions.TextFunctions.duckPolyHash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus-maintenance operators for a standing training-data pipeline:
  * incremental dedup of a new ingest batch against a PERSISTED corpus
  * index, deterministic shard-shuffled export, and weighted domain
  * mixing to a token budget. These are the "day-2" operations — the
  * batch suite in [[Dedup]] builds a corpus once; these keep it correct
  * and consumable as new data arrives.
  *
  * Reference scope: the reference's refresh protocol
  * (IncrementalTPCDSBenchmark.scala:161-204) maintains fact tables
  * incrementally; these entries apply the same incremental discipline to
  * the document corpus (index maintained between ingests, batch-only
  * work per increment).
  */
object CorpusOps {

  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")

  private val M = Dedup.M

  /** Staged corpus-side index per sf dir: at 100 TB the LSH band index
    * and the text-hash index are standing artifacts maintained between
    * ingests — building them is NOT part of an increment's cost. */
  private val indexRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Membership split: 70% of doc_ids form the standing corpus, the rest
    * arrive as the new batch. Deterministic and sf-independent. */
  private def isCorpus = col("doc_id") % 10 < 7

  /** Band rows (doc_id, sig, b, k) for a signature frame — 4 bands × 4
    * rows over the 16-permutation MinHash signature, same banding as
    * [[Dedup]]'s batch LSH (one explode, equi-join-able keys). Shared
    * with [[BenchExtras]]' multi-batch incremental-dedup protocol. */
  private[operators] def bandsOf(sig: DataFrame): DataFrame =
    sig.select(
      col("doc_id"), col("sig"),
      explode(expr(
        "transform(sequence(0, 3), b -> named_struct('b', b, 'k', slice(sig, b*4 + 1, 4)))"))
        .as("band"))
      .select(col("doc_id"), col("sig"),
        col("band.b").as("b"), col("band.k").as("k"))

  // Incremental dedup: classify each NEW batch document against the
  // standing corpus — 'exact' (identical text, via the text-hash index),
  // 'near_dup' (>=0.5 estimated MinHash similarity via the band index),
  // or 'unique'. The increment's cost is batch-sized: batch signatures
  // are one partial-agg shuffle, the band probe is an equi-join that
  // touches only colliding buckets, and the corpus side is read from the
  // persisted index parquet — the full corpus text is NEVER rescanned.
  // At 100 TB this is the only affordable formulation: re-running batch
  // LSH over corpus+batch would redo petabytes of signature work per
  // ingest. (Batch-internal duplicates are the batch suite's job —
  // dedup_exact/dedup_minhash_lsh applied to the increment.)
  private val incrementalOracle: String = {
    val mins = (0 until Dedup.MinhashPerms)
      .map(p => s"MIN((h * ${Dedup.hashA(p)} + ${Dedup.hashB(p)}) % $M)")
      .mkString("[", ",\n               ", "]")
    s"""
      WITH sh AS (${Dedup.duckShingleRows}),
      h AS (SELECT doc_id, ${Dedup.duckH} AS h FROM sh),
      sig AS (SELECT doc_id, $mins AS sig FROM h GROUP BY doc_id),
      th AS (SELECT doc_id, ${duckPolyHash("text")} AS th FROM documents),
      batch AS (SELECT doc_id FROM documents WHERE doc_id % 10 >= 7),
      ex AS (
        SELECT bt.doc_id AS doc_id, MIN(ct.doc_id) AS exact_id
        FROM th bt JOIN th ct ON bt.th = ct.th AND ct.doc_id % 10 < 7
        WHERE bt.doc_id % 10 >= 7
        GROUP BY bt.doc_id),
      cand AS (
        SELECT sb.doc_id AS bid, sc.doc_id AS cid,
               len(list_filter(range(1, 17), i -> sb.sig[i] = sc.sig[i])) / 16.0 AS est_sim
        FROM sig sb JOIN sig sc
          ON (sb.sig[1:4] = sc.sig[1:4] OR sb.sig[5:8] = sc.sig[5:8]
              OR sb.sig[9:12] = sc.sig[9:12] OR sb.sig[13:16] = sc.sig[13:16])
        WHERE sb.doc_id % 10 >= 7 AND sc.doc_id % 10 < 7),
      near AS (
        SELECT bid, MIN(cid) AS near_id, MAX(est_sim) AS best_sim
        FROM cand WHERE est_sim >= 0.5 GROUP BY bid)
      SELECT b.doc_id,
             CASE WHEN e.exact_id IS NOT NULL THEN 'exact'
                  WHEN n.near_id IS NOT NULL THEN 'near_dup'
                  ELSE 'unique' END AS status,
             COALESCE(e.exact_id, n.near_id) AS match_id,
             n.best_sim AS best_sim
      FROM batch b
      LEFT JOIN ex e ON b.doc_id = e.doc_id
      LEFT JOIN near n ON b.doc_id = n.bid
      ORDER BY b.doc_id
    """
  }

  /** Build (once per sf dir) and return the standing corpus index root:
    * LSH band rows + full-text polyhash, both parquet — the persisted
    * artifact the incremental and streaming dedup entries probe. */
  private def ensureIndex(s: SparkSession, d: String): String =
    indexRoots.computeIfAbsent(d, _ => {
      GraftFunctions.registerAll(s)
      val root = graft.Scratch.atExit(
        java.nio.file.Files.createTempDirectory("graft_inc_index").toString)
      bandsOf(Dedup.minhashSignaturesOf(s, docs(s, d).filter(isCorpus)))
        .write.mode("overwrite").parquet(s"$root/bands")
      docs(s, d).filter(isCorpus)
        .select(col("doc_id"), expr("graft_polyhash(text)").as("th"))
        .write.mode("overwrite").parquet(s"$root/th")
      root
    })

  private val incremental = OpQuery(
    "dedup_incremental",
    Some(incrementalOracle),
    (s, d) => {
      GraftFunctions.registerAll(s)
      // Standing corpus index, built once per sf dir and reused across
      // iterations (the persisted-artifact semantics).
      val idx = ensureIndex(s, d)
      val corpusBands = s.read.parquet(s"$idx/bands")
      val corpusTh = s.read.parquet(s"$idx/th")
      val batch = docs(s, d).filter(!isCorpus)
      // exact tier: hash equi-join against the text-hash index — the
      // shuffle carries (hash, id) pairs, never text
      val exactM = batch
        .select(col("doc_id"), expr("graft_polyhash(text)").as("th")).as("bt")
        .join(corpusTh.as("ct"), col("bt.th") === col("ct.th"))
        .groupBy(col("bt.doc_id").as("doc_id"))
        .agg(min(col("ct.doc_id")).as("exact_id"))
      // near tier: batch band rows probe the index on (band, key); the
      // signature-fraction estimate is computed per colliding pair only
      // no distinct over the collision rows: a pair colliding in several
      // bands yields identical (bid, cid, est_sim) rows, which the
      // min/max aggregate below absorbs — a distinct here would add a
      // full shuffle of the candidate set for nothing
      val cand = bandsOf(Dedup.minhashSignaturesOf(s, batch)).as("a")
        .join(corpusBands.as("b"),
          col("a.b") === col("b.b") && col("a.k") === col("b.k"))
        .select(col("a.doc_id").as("bid"), col("b.doc_id").as("cid"),
          (expr("size(filter(zip_with(a.sig, b.sig, (x, y) -> x = y), v -> v))") / 16.0)
            .as("est_sim"))
        .filter(col("est_sim") >= 0.5)
      val nearM = cand.groupBy("bid")
        .agg(min("cid").as("near_id"), max("est_sim").as("best_sim"))
      batch.select("doc_id")
        .join(exactM, Seq("doc_id"), "left")
        .join(nearM, col("doc_id") === col("bid"), "left")
        .select(col("doc_id"),
          when(col("exact_id").isNotNull, "exact")
            .when(col("near_id").isNotNull, "near_dup")
            .otherwise("unique").as("status"),
          coalesce(col("exact_id"), col("near_id")).as("match_id"),
          col("best_sim"))
        .orderBy("doc_id")
    })

  // Index maintenance after an ingest: the batch's UNIQUE documents
  // (neither exact nor near duplicates of the corpus) join the standing
  // LSH index so the NEXT increment deduplicates against them too. The
  // extension cost is unique-batch-sized (their band rows union the
  // persisted index parquet); the result here goes to its own staged
  // copy — never mutating the shared index the classification entry
  // reads, which must stay a pure function of the corpus for the
  // iteration/oracle protocol. Output: per-band row and distinct-key
  // counts of the extended index — the quantities an index operator
  // monitors for bucket skew.
  private val indexExtendOracle: String = {
    val mins = (0 until Dedup.MinhashPerms)
      .map(p => s"MIN((h * ${Dedup.hashA(p)} + ${Dedup.hashB(p)}) % $M)")
      .mkString("[", ",\n               ", "]")
    s"""
      WITH sh AS (${Dedup.duckShingleRows}),
      h AS (SELECT doc_id, ${Dedup.duckH} AS h FROM sh),
      sig AS (SELECT doc_id, $mins AS sig FROM h GROUP BY doc_id),
      th AS (SELECT doc_id, ${duckPolyHash("text")} AS th FROM documents),
      batch AS (SELECT doc_id FROM documents WHERE doc_id % 10 >= 7),
      ex AS (
        SELECT bt.doc_id AS doc_id, MIN(ct.doc_id) AS exact_id
        FROM th bt JOIN th ct ON bt.th = ct.th AND ct.doc_id % 10 < 7
        WHERE bt.doc_id % 10 >= 7
        GROUP BY bt.doc_id),
      cand AS (
        SELECT sb.doc_id AS bid, sc.doc_id AS cid,
               len(list_filter(range(1, 17), i -> sb.sig[i] = sc.sig[i])) / 16.0 AS est_sim
        FROM sig sb JOIN sig sc
          ON (sb.sig[1:4] = sc.sig[1:4] OR sb.sig[5:8] = sc.sig[5:8]
              OR sb.sig[9:12] = sc.sig[9:12] OR sb.sig[13:16] = sc.sig[13:16])
        WHERE sb.doc_id % 10 >= 7 AND sc.doc_id % 10 < 7),
      near AS (
        SELECT bid FROM cand WHERE est_sim >= 0.5 GROUP BY bid),
      member AS (
        SELECT doc_id FROM documents WHERE doc_id % 10 < 7
        UNION ALL
        SELECT b.doc_id FROM batch b
        LEFT JOIN ex e ON b.doc_id = e.doc_id
        LEFT JOIN near n ON b.doc_id = n.bid
        WHERE e.exact_id IS NULL AND n.bid IS NULL),
      bands AS (
        SELECT m.doc_id, t.b AS band, s.sig[t.b*4+1 : t.b*4+4] AS k
        FROM member m
        JOIN sig s ON m.doc_id = s.doc_id
        CROSS JOIN (SELECT unnest(range(0, 4)) AS b) t)
      SELECT CAST(band AS INT) AS band, COUNT(*) AS n_rows,
             CAST(COUNT(DISTINCT k) AS BIGINT) AS n_keys
      FROM bands GROUP BY band ORDER BY band
    """
  }

  private val indexExtend = OpQuery(
    "dedup_index_extend",
    Some(indexExtendOracle),
    (s, d) => {
      GraftFunctions.registerAll(s)
      // classify the batch exactly as dedup_incremental does, reusing
      // the persisted corpus index (built on miss)
      val classified = incremental.build(s, d)
      val uniqIds = classified.filter(col("status") === "unique").select("doc_id")
      // signatures for the unique docs ONLY: restrict the docs frame
      // BEFORE shingling (uniqIds ⊆ batch) — joining doc_ids onto an
      // already-aggregated all-corpus signature frame cannot be pushed
      // below the groupBy, so it would redo corpus-sized signature work
      // on every call
      val uniqBands = bandsOf(
        Dedup.minhashSignaturesOf(s, docs(s, d).join(uniqIds, "doc_id")))
      val extendStage = graft.Scratch.dir("inc_index_ext")
      s.read.parquet(s"${indexRoots.get(d)}/bands")
        .unionByName(uniqBands)
        .write.mode("overwrite").parquet(extendStage)
      s.read.parquet(extendStage)
        .groupBy(col("b").cast("int").as("band"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("k")).as("n_keys"))
        .orderBy("band")
    })

  // Deterministic shard-shuffled export: the pre-training write path.
  // Every document gets a multiplicative-hash key; shard = hkey mod 8,
  // within-shard order = (hkey, doc_id) — a reproducible global shuffle
  // with no rand(). Positions come from ScaleWindow.orderStats (range
  // repartition + local rank + broadcast offsets), NOT a per-shard
  // single-task window — at 100 TB each shard is still ~12 TB and must
  // sort across many tasks. The staged write is shard-partitioned with
  // size-bounded files (the artifact a trainer consumes); the summary
  // reads the STAGED copy back and checks a modular order checksum, so
  // a mis-sorted or dropped row changes the result. All checksum
  // arithmetic is mod 1e9+7 with an exact decimal sum — both engines do
  // identical integer math.
  private val shuffleExport = OpQuery(
    "corpus_shuffle_export",
    Some(s"""
      WITH a AS (
        SELECT doc_id, n_chars, ((doc_id % $M) * 2654435761) % $M AS hkey
        FROM documents),
      b AS (SELECT *, CAST(hkey % 8 AS INT) AS shard FROM a),
      p AS (SELECT shard, n_chars, hkey,
                   ROW_NUMBER() OVER (PARTITION BY shard
                                      ORDER BY hkey, doc_id) AS pos
            FROM b)
      SELECT shard, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             CAST(SUM((hkey * (pos % $M)) % $M) % $M AS BIGINT) AS order_checksum
      FROM p GROUP BY shard ORDER BY shard
    """),
    (s, d) => {
      // reduce doc_id mod M BEFORE the multiply: the raw product overflows
      // Long for doc_id ≳ 3.5e9 (Spark would wrap silently, DuckDB would
      // raise) — (M-1) * 2654435761 ≈ 2.65e18 always fits
      val base = docs(s, d).select(
          col("doc_id"), col("n_chars"),
          (((col("doc_id") % M) * 2654435761L) % M).as("hkey"))
        .withColumn("shard", (col("hkey") % 8).cast("int"))
      val placed = ScaleWindow.orderStats(
        base, Seq("shard"), Seq(col("hkey"), col("doc_id")), "pos", "n_in_shard")
      val stage = graft.Scratch.dir("shuffle_export")
      // range partitioning from orderStats keeps each writer task inside
      // one shard's key range → contiguous, ordered files per shard dir
      placed.drop("n_in_shard")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 100000)
        .partitionBy("shard")
        .parquet(stage)
      val term = (col("hkey") * (col("pos") % M)) % M
      s.read.parquet(stage)
        .groupBy(col("shard").cast("int").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          // exact sum: decimal(38,0) never overflows at any corpus size
          (sum(term.cast(DecimalType(38, 0))) % M).cast("long").as("order_checksum"))
        .orderBy("shard")
    })

  // Weighted domain mixing: allot a global char budget (40% of the
  // corpus) across source domains proportionally to a per-domain weight,
  // then keep a deterministic hash-bucketed subsample of each domain
  // sized to its allotment — the standard data-mixture step before
  // training. All quota arithmetic is integer (div, not /): both engines
  // floor identically, so the cutoffs — and therefore exactly which
  // rows survive — are bit-identical. Plan shape: one domain-sized agg,
  // a broadcast of the (domains × quota) frame back onto the corpus
  // scan, a row-local bucket filter, one final agg. Two shuffles total,
  // both domain-keyed partial aggs; nothing fact-sized is sorted or
  // broadcast.
  private val domainMix = OpQuery(
    "corpus_domain_mix",
    Some(s"""
      WITH stats AS (
        SELECT source, COUNT(*) AS n_total,
               CAST(SUM(n_chars) AS BIGINT) AS chars_s
        FROM documents GROUP BY source),
      w AS (
        SELECT *, CAST(COALESCE(TRY_CAST(substring(source, 4) AS INT), 0) % 3 + 1 AS BIGINT) AS wgt
        FROM stats),
      tot AS (
        SELECT CAST(SUM(chars_s) AS BIGINT) AS total_chars,
               CAST(SUM(wgt) AS BIGINT) AS sum_w
        FROM w),
      quota AS (
        SELECT source, n_total, chars_s,
               LEAST(10000, ((total_chars * 2 * wgt) // (5 * sum_w)) * 10000 // chars_s) AS cutoff
        FROM w, tot),
      kept AS (
        SELECT d.source, COUNT(*) AS n_kept,
               CAST(SUM(d.n_chars) AS BIGINT) AS chars_kept
        FROM documents d JOIN quota q ON d.source = q.source
        WHERE ((d.doc_id % $M) * 2654435761) % $M % 10000 < q.cutoff
        GROUP BY d.source)
      SELECT q.source, q.n_total,
             CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
             CAST(COALESCE(k.chars_kept, 0) AS BIGINT) AS chars_kept,
             CAST(q.cutoff AS INT) AS cutoff
      FROM quota q LEFT JOIN kept k ON q.source = k.source
      ORDER BY q.source
    """),
    (s, d) => {
      val docsDf = docs(s, d)
      val stats = docsDf.groupBy("source")
        .agg(count(lit(1)).as("n_total"), sum("n_chars").cast("long").as("chars_s"))
        .withColumn("wgt",
          expr("CAST(COALESCE(TRY_CAST(substring(source, 4) AS INT), 0) % 3 + 1 AS BIGINT)"))
      val tot = stats.agg(
        sum("chars_s").cast("long").as("total_chars"),
        sum("wgt").cast("long").as("sum_w"))
      // quota feeds TWO branches (the kept-side broadcast filter and the
      // final projection); staged through parquet so the corpus stats agg
      // — a full scan at 100 TB — runs once, not once per branch
      val quotaStage = graft.Scratch.dir("domain_quota")
      stats.crossJoin(broadcast(tot)).selectExpr(
        "source", "n_total", "chars_s",
        "least(10000L, ((total_chars * 2 * wgt) div (5 * sum_w)) * 10000L div chars_s) AS cutoff")
        .coalesce(1).write.mode("overwrite").parquet(quotaStage)
      val quota = s.read.parquet(quotaStage)
      val kept = docsDf
        .join(broadcast(quota.select("source", "cutoff")), "source")
        // mod-first like corpus_shuffle_export: no Long overflow at any id
        .filter(((col("doc_id") % M) * 2654435761L) % M % 10000 < col("cutoff"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum("n_chars").cast("long").as("chars_kept"))
      quota.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_total"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("chars_kept"), lit(0L)).as("chars_kept"),
          col("cutoff").cast("int").as("cutoff"))
        .orderBy("source")
    })

  // Streaming near-dup admission gate (the ingest-time dedup a training
  // pipeline runs continuously): document batches arrive as ORDERED
  // micro-batches; each is classified against the standing index —
  // corpus plus every PREVIOUSLY ACCEPTED batch doc — and only unique
  // docs extend the index. Sequential semantics matter: round 8's
  // near-duplicate of a round-7 unique is rejected, which an order-blind
  // batch dedup cannot express. Per-round cost is batch-sized (batch
  // signatures + bucket equi-join probes; index growth is append-only);
  // micro-batch order is pinned by source-file modification times and
  // the oracle replays the identical three-round admission in SQL.
  private val streamDedupLshOracle: String = {
    val mins = (0 until Dedup.MinhashPerms)
      .map(p => s"MIN((h * ${Dedup.hashA(p)} + ${Dedup.hashB(p)}) % $M)")
      .mkString("[", ",\n               ", "]")
    val bandEq =
      """(sb.sig[1:4] = sc.sig[1:4] OR sb.sig[5:8] = sc.sig[5:8]
              OR sb.sig[9:12] = sc.sig[9:12] OR sb.sig[13:16] = sc.sig[13:16])"""
    // one admission round: exact tier vs the accepted set, near tier on
    // colliding bands vs the accepted set (exact-classified docs are not
    // double-counted), uniques join the next accepted set
    def round(m: Int, acc: String, accNext: String): String = s"""
      ex$m AS (
        SELECT DISTINCT bt.doc_id FROM th bt
        JOIN th ct ON bt.th = ct.th
        JOIN $acc a ON ct.doc_id = a.doc_id
        WHERE bt.doc_id % 10 = $m),
      nr$m AS (
        SELECT DISTINCT sb.doc_id FROM sig sb
        JOIN sig sc ON $bandEq
        JOIN $acc a ON sc.doc_id = a.doc_id
        WHERE sb.doc_id % 10 = $m
          AND len(list_filter(range(1, 17), i -> sb.sig[i] = sc.sig[i])) / 16.0 >= 0.5
          AND sb.doc_id NOT IN (SELECT doc_id FROM ex$m)),
      u$m AS (
        SELECT doc_id FROM documents
        WHERE doc_id % 10 = $m
          AND doc_id NOT IN (SELECT doc_id FROM ex$m)
          AND doc_id NOT IN (SELECT doc_id FROM nr$m)),
      $accNext AS (SELECT doc_id FROM $acc UNION ALL SELECT doc_id FROM u$m)"""
    s"""
      WITH sh AS (${Dedup.duckShingleRows}),
      h AS (SELECT doc_id, ${Dedup.duckH} AS h FROM sh),
      sig AS (SELECT doc_id, $mins AS sig FROM h GROUP BY doc_id),
      th AS (SELECT doc_id, ${duckPolyHash("text")} AS th FROM documents),
      acc0 AS (SELECT doc_id FROM documents WHERE doc_id % 10 < 7),
      ${round(7, "acc0", "acc1")},
      ${round(8, "acc1", "acc2")},
      ${round(9, "acc2", "acc3")}
      SELECT CAST(batch AS INT) AS batch,
             CAST(n_exact AS BIGINT) AS n_exact,
             CAST(n_near AS BIGINT) AS n_near,
             CAST(n_unique AS BIGINT) AS n_unique
      FROM (
        SELECT 7 AS batch, (SELECT COUNT(*) FROM ex7) AS n_exact,
               (SELECT COUNT(*) FROM nr7) AS n_near,
               (SELECT COUNT(*) FROM u7) AS n_unique
        UNION ALL
        SELECT 8, (SELECT COUNT(*) FROM ex8), (SELECT COUNT(*) FROM nr8),
               (SELECT COUNT(*) FROM u8)
        UNION ALL
        SELECT 9, (SELECT COUNT(*) FROM ex9), (SELECT COUNT(*) FROM nr9),
               (SELECT COUNT(*) FROM u9))
      ORDER BY batch
    """
  }

  /** Staged per-sf streaming source dirs (read-only micro-batch input). */
  private val streamSourceRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val streamDedupLsh = OpQuery(
    "stream_dedup_lsh",
    Some(streamDedupLshOracle),
    (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      GraftFunctions.registerAll(s)
      val docsDf = docs(s, d)
      // one source file per arrival round (doc_id % 10 = 7 / 8 / 9),
      // modification times strictly increasing so the file source
      // replays the rounds in admission order, one micro-batch each
      val srcDir = streamSourceRoots.computeIfAbsent(d, _ => {
        val dir = graft.Scratch.atExit(
          java.nio.file.Files.createTempDirectory("graft_sdl_src").toString)
        Seq(7, 8, 9).zipWithIndex.foreach { case (m, i) =>
          val stage = java.nio.file.Files.createTempDirectory("graft_sdl_stage")
          docsDf.filter(col("doc_id") % 10 === m).coalesce(1)
            .write.mode("overwrite").parquet(stage.toString)
          val part = new java.io.File(stage.toString).listFiles()
            .find(f => f.getName.endsWith(".parquet")).get
          val dst = java.nio.file.Paths.get(dir, f"round_$i%d.parquet")
          java.nio.file.Files.move(part.toPath, dst)
          dst.toFile.setLastModified(1700000000000L + i * 60000L)
          stage.toFile.listFiles().foreach(_.delete()); stage.toFile.delete()
        }
        dir
      })
      // per-RUN mutable index cloned from the staged corpus index (the
      // run appends accepted docs; the shared seed must stay pure)
      val seed = ensureIndex(s, d)
      val idx = graft.Scratch.dir("sdl_idx")
      def copyDir(from: String, to: String): Unit = {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(to))
        new java.io.File(from).listFiles()
          .filter(f => f.isFile && !f.getName.startsWith("."))
          .foreach(f => java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(to, f.getName)))
      }
      copyDir(s"$seed/bands", s"$idx/bands")
      copyDir(s"$seed/th", s"$idx/th")
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
      // Every frame inside the micro-batch is BATCH-sized (one arrival
      // round), so the foreachBatch joins/distincts run under the same
      // bounded shuffle width the stateful stream gates use
      // (runToMemory's rationale: width follows the keyspace/batch, not
      // the session's scan parallelism — production sizes this to
      // batch-rows ÷ target-rows-per-task). With the session's 32-wide
      // shuffles, each of the ~5 jobs per batch ran 32 near-empty tasks
      // and the two index appends sprayed up to 32 files per batch,
      // growing the standing index's file count (and every later
      // batch's probe listing) ~20× faster than the data. The width
      // holds for the stream's own session only; the caller's keeps its
      // own.
      val writer = s.readStream.schema(docsDf.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // one action for both batch facts (each file is one arrival
          // round, so the modulus is constant within the batch)
          val facts = batch.agg(
            max(pmod(col("doc_id"), lit(10))).cast("int").as("m"),
            count(lit(1)).as("n")).head()
          val m = facts.getInt(0)
          val nAll = facts.getLong(1)
          // materialize this round's signatures once — classification
          // probes and the index extension reuse the same copy. A cache
          // (not a parquet staging round-trip: two write jobs + two
          // read-back listings per micro-batch bought nothing — the
          // frames are batch-sized and die with the batch)
          val bBands = bandsOf(Dedup.minhashSignaturesOf(s, batch)).persist()
          val bTh = batch
            .select(col("doc_id"), expr("graft_polyhash(text)").as("th"))
            .persist()
          // persist the two classification frames: each feeds the counts
          // AND both index-extension anti-joins below — without the cache
          // the standing band/th index parquet is re-scanned ~4x per
          // micro-batch (batch-sized today, 2-4x wasted ingest work at
          // corpus scale)
          // index reads declare their schemas: the probe must re-LIST
          // the growing index dirs every batch (appends land between
          // batches) but re-INFERRING the schema from footers buys
          // nothing — it is the batch frames' own schema
          val exact = bTh.as("bt")
            .join(s.read.schema(bTh.schema).parquet(s"$idx/th").as("ct"),
              col("bt.th") === col("ct.th"))
            .select(col("bt.doc_id").as("doc_id")).distinct()
            .persist()
          val near = bBands.as("a")
            .join(s.read.schema(bBands.schema).parquet(s"$idx/bands").as("b"),
              col("a.b") === col("b.b") && col("a.k") === col("b.k"))
            .select(col("a.doc_id").as("doc_id"),
              (expr("size(filter(zip_with(a.sig, b.sig, (x, y) -> x = y), v -> v))") / 16.0)
                .as("est_sim"))
            .filter(col("est_sim") >= 0.5)
            .select("doc_id").distinct()
            .join(exact, Seq("doc_id"), "left_anti")
            .persist()
          try {
            val nEx = exact.count()
            val nNear = near.count()
            val accepted = bTh.select("doc_id")
              .join(exact, Seq("doc_id"), "left_anti")
              .join(near, Seq("doc_id"), "left_anti")
            // append-only index growth: accepted docs' rows join the
            // index as ONE file per batch (the appended delta is
            // ingest-batch-sized; at corpus scale a size-targeted
            // coalesce — the standing index must grow by bounded files,
            // not by a file per shuffle task)
            bBands.join(accepted, "doc_id").coalesce(1)
              .write.mode("append").parquet(s"$idx/bands")
            bTh.join(accepted, "doc_id").coalesce(1)
              .write.mode("append").parquet(s"$idx/th")
            out += ((m, nEx, nNear, nAll - nEx - nNear))
          } finally {
            exact.unpersist(false)
            near.unpersist(false)
            bBands.unpersist(false)
            bTh.unpersist(false)
          }
          ()
        }
        .option("checkpointLocation", graft.Scratch.dir("sdl_ckpt"))
        .trigger(Trigger.AvailableNow())
      graft.streaming.Streams.startWithWidth(s, 4)(writer.start())
        .awaitTermination()
      import s.implicits._
      out.toSeq.sortBy(_._1)
        .toDF("batch", "n_exact", "n_near", "n_unique")
        .orderBy("batch")
    })

  // ------------------------------------------- INVERTED-INDEX SEARCH
  // Term search against a STANDING inverted index: postings (term,
  // doc_id, tf, idf-folded score) are a persisted artifact maintained
  // beside the corpus (rebuilt/extended on ingest, like the LSH index),
  // range-partitioned and sorted BY TERM so a query's `term IN (…)`
  // probe is parquet row-group skipping over the matching term ranges —
  // an index seek, never a corpus scan. At 100 TB the corpus text is
  // petabytes while the postings slice a query touches is
  // vocabulary-range-sized; full-scan scoring per query (the
  // [[TextAnalysis]] tfidf entry's shape) is the formulation that does
  // not survive scale. Scores are per-term micro-scaled BIGINTs summed
  // exactly, so ranking is engine-deterministic (no float-sum order).
  private val searchRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def ensureSearchIndex(s: SparkSession, d: String): String =
    searchRoots.computeIfAbsent(d, _ => {
      val root = graft.Scratch.atExit(
        java.nio.file.Files.createTempDirectory("graft_search_idx").toString)
      val docsDf = docs(s, d)
      val tf = docsDf
        .select(col("doc_id"),
          explode(split(lower(col("text")), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = docsDf.count()
      tf.join(dfT, "term")
        .withColumn("sm",
          round(col("tf") * log(lit(nDocs.toDouble) / col("df")) * 1e6)
            .cast("long"))
        .select("term", "doc_id", "tf", "sm")
        .repartitionByRange(4, col("term")).sortWithinPartitions("term")
        .write.mode("overwrite").parquet(s"$root/postings.parquet")
      root
    })

  private val searchInverted = OpQuery(
    "text_search_inverted",
    Some("""
      WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      post AS (
        SELECT t.doc_id,
               CAST(ROUND(t.tf * LN(CAST(n.n_docs AS DOUBLE) / d.df) * 1000000)
                 AS BIGINT) AS sm
        FROM tf t JOIN df d USING (term), n
        WHERE t.term IN ('dup', 'vector', 'merge')),
      hits AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
               CAST(SUM(sm) AS BIGINT) AS sm
        FROM post GROUP BY 1)
      SELECT doc_id, n_terms,
             CAST(CAST(sm AS DOUBLE) / 1000000 AS DOUBLE) AS score
      FROM hits ORDER BY sm DESC, doc_id LIMIT 10
    """),
    (s, d) => {
      val root = ensureSearchIndex(s, d)
      val terms = Seq("dup", "vector", "merge")
      // the session's resolved postings frame: no footer inference and
      // no data-source resolution per call
      Tables.load(s, root, "postings")
        .filter(col("term").isin(terms: _*)) // pushed: row-group skip on sorted term
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"), sum("sm").as("sm"))
        .orderBy(col("sm").desc, col("doc_id")).limit(10)
        .select(col("doc_id"), col("n_terms"),
          (col("sm").cast("double") / 1e6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
    })

  val defs: Seq[OpQuery] = Seq(
    incremental, indexExtend, shuffleExport, domainMix, streamDedupLsh,
    searchInverted)
}
