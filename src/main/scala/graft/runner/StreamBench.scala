package graft.runner

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.io.Sessions

/** Streaming throughput bench (VERDICT r13 #5): the streaming twins are
  * correctness-proven by StreamingSpec, but the "pure map at 100 TB/day"
  * claim had no recorded rows/sec behind it. This runner drives each
  * operator with a MemoryStream over the REAL sf0.1 corpus (replicated
  * with distinct ids to a larger stream), in `Batches` micro-batches —
  * so per-batch planning/state-commit overhead is IN the number, as it
  * is in production — and records rows/sec after a warmup batch.
  *
  * Usage: `runMain graft.runner.StreamBench [sfDir]` (default
  * /root/testdata/sf0.1). Prints one JSON line and writes
  * `docs/stream_bench.json`. Numbers are single-node local[N]; the
  * operators shard by group key (bucket/cell/shard/none), so cluster
  * throughput scales with executors until the state store binds.
  */
object StreamBench {

  final case class SDoc(doc_id: Long, text: String)
  final case class SVec(vec_id: Long, embedding: Seq[Float])
  final case class SIngest(doc_id: Long, text: String, embedding: Seq[Float])
  final case class SHtml(doc_id: Long, html: String)
  final case class SUrl(doc_id: Long, url: String)
  final case class SDocTs(doc_id: Long, text: String, ts: java.sql.Timestamp)

  /** Stream-size multiplier over the base corpus and micro-batch count. */
  final val Rep = 10
  final val Batches = 10

  /** Dev iteration filter (the ScaleSlope subset rule): a
    * SPARK_GRAFT_SB_ONLY=op1,op2 run times only those operators,
    * prints the JSON, and does NOT overwrite docs/stream_bench.json —
    * the recorded run must be the full one. */
  private val only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_SB_ONLY").map(_.split(",").map(_.trim).toSet)

  private def timeStream[T](
      spark: SparkSession,
      name: String,
      warmup: Seq[T],
      payload: Seq[T],
      build: DataFrame => DataFrame,
      batches: Int = Batches)(implicit enc: org.apache.spark.sql.Encoder[T])
      : (String, Long, Double) = {
    if (only.exists(!_.contains(name))) return (name, 0L, 0.0) // filtered out
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[T]
    val out = build(mem.toDF())
    // checkpoint (offsets + RocksDB state) under a per-run temp dir,
    // deleted after the query stops — the r14 cut leaked one state-store
    // tree per operator per run into the temp dir (ADVICE r14)
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft-sb-$name")
    val writer: DataStreamWriter[_] = out.writeStream
      .format("noop")
      .outputMode(if (name == "hot_tokens") "update" else "append")
      .option("checkpointLocation", ckpt.toString)
    val q = writer.start()
    try {
      mem.addData(warmup)
      q.processAllAvailable() // absorbs stream start + codegen + state init
      // ceiling division: floor division yields batches+1 groups (a
      // small tail batch) whenever the size is not divisible, skewing
      // the per-batch-size planning-overhead comparison (ADVICE r16)
      val per = payload.grouped(math.max(1, (payload.size + batches - 1) / batches)).toSeq
      val t0 = System.nanoTime()
      for (b <- per) { mem.addData(b); q.processAllAvailable() }
      val sec = (System.nanoTime() - t0) / 1e9
      val rps = payload.size / sec
      System.err.println(f"[stream-bench] $name: ${payload.size} rows in $sec%.2fs = $rps%.0f rows/s")
      (name, payload.size.toLong, rps)
    } finally {
      q.stop()
      deleteRecursively(ckpt)
    }
  }

  private def deleteRecursively(root: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, Path}
    import java.util.Comparator
    // q.stop() returns before the RocksDB maintenance thread necessarily
    // does: it may still be zipping a snapshot into the checkpoint dir,
    // so one sweep can race a late-created file (DirectoryNotEmpty /
    // NoSuchFile mid-walk). Re-sweep briefly; the thread quiesces within
    // a few hundred ms of stop().
    var attempt = 0
    var pending: Option[java.io.IOException] = None
    while (Files.exists(root) && attempt < 10) {
      attempt += 1
      try {
        val walk = Files.walk(root)
        try {
          walk.sorted(Comparator.reverseOrder[Path]())
            .forEach(p => Files.deleteIfExists(p))
        } finally walk.close()
        pending = None
      } catch { case e: java.io.IOException => pending = Some(e) }
      if (Files.exists(root)) Thread.sleep(200)
    }
    if (Files.exists(root))
      throw pending.getOrElse(
        new java.io.IOException(s"could not delete $root after $attempt sweeps"))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local("graft-stream-bench",
      sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors().toString))
    import spark.implicits._

    val baseDocs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").as[SDoc].collect().toSeq
    val baseVecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").as[SVec].collect().toSeq
    // distinct ids per replica: state keys (dedup buckets, exemplar
    // cells) see the realistic arrival pattern, not one id re-claimed
    val docs = (0 until Rep).flatMap(r =>
      baseDocs.map(d => SDoc(d.doc_id + r * 1_000_000_000L, d.text)))
    val vecs = (0 until Rep).flatMap(r =>
      baseVecs.map(v => SVec(v.vec_id + r * 1_000_000_000L, v.embedding)))
    val wDocs = baseDocs.take(500).map(d => SDoc(d.doc_id + 9_000_000_000L, d.text))
    val wVecs = baseVecs.take(500).map(v => SVec(v.vec_id + 9_000_000_000L, v.embedding))
    // the composed ingest tier streams (doc_id, text, embedding) rows —
    // the docs ∩ embeddings slice, the schema a crawl-with-encoder emits
    val baseIngest = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .join(spark.read.parquet(s"$dir/embeddings.parquet")
        .selectExpr("vec_id AS doc_id", "embedding"), "doc_id")
      .as[SIngest].collect().toSeq
    val ingest = (0 until Rep).flatMap(r =>
      baseIngest.map(d => d.copy(doc_id = d.doc_id + r * 1_000_000_000L)))
    val wIngest = baseIngest.take(500).map(d => d.copy(doc_id = d.doc_id + 9_000_000_000L))
    // real media payloads (PNG/WAV/frame containers) — the media_dedup
    // number includes the per-row ImageIO decode, as production would
    val baseMedia = graft.multimodal.Media.synthesize(spark, dir).collect().toSeq
    val media = (0 until Rep).flatMap(r =>
      baseMedia.map(m => m.copy(media_id = m.media_id + r * 1_000_000_000L)))
    val wMedia = baseMedia.take(500).map(m => m.copy(media_id = m.media_id + 9_000_000_000L))

    val weights = graft.queries.TextAnalysis.trainedWeights(spark, dir)

    // RocksDB state store for the WHOLE bench: hot_tokens
    // (transformWithState) requires it, and the default HDFS-backed
    // provider re-snapshots its in-memory key maps per micro-batch —
    // near_dedup's ~80k accumulated band buckets measured 5x slower
    // under it (501 vs ~2.5k rows/s). A production streaming dedup
    // runs RocksDB; bench what ships.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // r21 (VERDICT r20 #8): RocksDB write-path tuning for the claim
    // folds — semantics-free, state values unchanged.
    //  - trackTotalNumberOfRows=false drops the per-put existence get()
    //    RocksDB otherwise issues to maintain the numRowsTotal metric
    //    (write-amplification on every claim write; Spark docs list it
    //    as the first perf knob for write-heavy state);
    //  - changelogCheckpointing writes the per-batch delta log and
    //    moves full-snapshot upload to background maintenance, instead
    //    of a foreground snapshot inside every micro-batch commit.
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")

    // trained models fetched ONCE (train offline, encode the stream
    // online — the IVF-PQ ingest shape); both passes reuse them
    val pqcb = graft.queries.Similarity.pqModel(spark, dir).cb
    // trained IVFADC model (coarse centroids + residual codebook): the
    // serving-tier add() path — route, subtract, quantize per row
    val (adcCents, adcCb) = graft.queries.Similarity.ivfadcModel(spark, dir)
    // eval-set bloom for the streaming decontamination gate
    val evalBloom = graft.queries.TextAnalysis.evalBloomBytes(spark, dir)

    // trained DSIR bucket log-ratio table for the importance scorer
    val dsirLr = graft.queries.Curation.dsirModel(spark, dir)
    // trained unigram-LM piece table for the online tokenizer encode
    val uniModel = graft.queries.Bpe.unigramModel(spark, dir)
    // trained char-trigram language-ID model (round 18)
    val lidModel = graft.queries.LangId.trainedModel(spark, dir)
    // raw-markup stream for the crawl front end (round 18): the derived
    // HTML chrome over the corpus text — the per-row cost is the real
    // tag-strip regexp chain
    val baseHtml = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", s"${graft.queries.Html.htmlSql} AS html")
      .as[SHtml].collect().toSeq
    val htmlRows = (0 until Rep).flatMap(r =>
      baseHtml.map(h => h.copy(doc_id = h.doc_id + r * 1_000_000_000L)))
    val wHtml = baseHtml.take(500).map(h => h.copy(doc_id = h.doc_id + 9_000_000_000L))

    // derived URL rows for the round-19 URL tier (the q_url_filter
    // fixture rule: the per-row cost is the real parse/normalize chain)
    val baseUrls = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("ud", expr(
        graft.functions.CrossHash.h("concat('url#', cast(doc_id as string))")))
      .selectExpr("doc_id", s"${graft.queries.Url.urlSql} AS url")
      .as[SUrl].collect().toSeq
    val urls = (0 until Rep).flatMap(r =>
      baseUrls.map(u => u.copy(doc_id = u.doc_id + r * 1_000_000_000L)))
    val wUrls = baseUrls.take(500).map(u => u.copy(doc_id = u.doc_id + 9_000_000_000L))
    // event-time rows for the horizoned claim fold (constant ts: no
    // evictions fire, so the number isolates the horizon machinery —
    // tuple state, timestamp filter, per-invocation timer arming)
    val ts0 = new java.sql.Timestamp(86_400_000L)
    val docsTs = docs.map(d => SDocTs(d.doc_id, d.text, ts0))
    val wDocsTs = wDocs.map(d => SDocTs(d.doc_id, d.text, ts0))

    def onePass(): Seq[(String, Long, Double)] = {
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double)]
    results += timeStream[SDoc](spark, "score_docs", wDocs, docs,
      df => graft.streaming.Streams.scoreDocs(df, weights))
    // the DSIR importance scorer (round 17): distinct unigram+bigram
    // hashing per row — stateless like score_docs but ~2 tokens of
    // hashing per token instead of 1
    results += timeStream[SDoc](spark, "dsir_score", wDocs, docs,
      df => graft.streaming.Streams.dsirScore(df, dsirLr))
    // the unigram-LM online tokenizer encode (round 17): one Viterbi
    // DP per alpha word per row under the trained piece table
    results += timeStream[SDoc](spark, "encode_unigram", wDocs, docs,
      df => graft.streaming.Streams.unigramEncode(df, uniModel))
    // the crawl front end (round 18): tag-strip map stage + the
    // trained-language-ID annotator, both stateless
    results += timeStream[SHtml](spark, "extract_html", wHtml, htmlRows,
      df => graft.streaming.Streams.extractHtml(df))
    results += timeStream[SDoc](spark, "langid", wDocs, docs,
      df => graft.streaming.Streams.langidAnnotate(df, lidModel,
        graft.queries.LangId.langsOf(spark, dir)))
    results += timeStream[SVec](spark, "encode_pq", wVecs, vecs,
      df => graft.streaming.Streams.encodePq(df, pqcb))
    // micro-batch size sweep (round-16 headroom item): the r15 claim
    // was that per-batch planning overhead dominates encode_pq at the
    // default 2k-row batches — measure 10k and 20k-row batches too
    results += timeStream[SVec](spark, "encode_pq_b10k", wVecs, vecs,
      df => graft.streaming.Streams.encodePq(df, pqcb), batches = 2)
    results += timeStream[SVec](spark, "encode_pq_b20k", wVecs, vecs,
      df => graft.streaming.Streams.encodePq(df, pqcb), batches = 1)
    results += timeStream[SVec](spark, "encode_ivfadc", wVecs, vecs,
      df => graft.streaming.Streams.encodeIvfadc(df, adcCents, adcCb))
    results += timeStream[SDoc](spark, "gate_contaminated", wDocs, docs,
      df => graft.streaming.Streams.gateContaminated(df, evalBloom))
    // the URL tier (round 19): parse + normalize + gate; round 20 adds
    // the stream-static blocklist-frame probe (broadcast arm)
    results += timeStream[SUrl](spark, "url_filter", wUrls, urls,
      df => graft.streaming.Streams.urlFilter(df,
        graft.queries.Url.blocklistFrame(spark, dir),
        graft.queries.Url.blocklistRows(spark, dir)))
    results += timeStream[SDoc](spark, "near_dedup", wDocs, docs,
      df => graft.streaming.Streams.nearDedup(df).toDF())
    // the horizoned twin (round 19): same claim semantics within the
    // horizon; the delta prices the event-time machinery
    results += timeStream[SDocTs](spark, "near_dedup_horizon", wDocsTs, docsTs,
      df => graft.streaming.Streams.nearDedup(df,
        horizonMs = Some(24L * 3600 * 1000)).toDF())
    // the exact-recall simhash block-combination claim tier (round
    // 17): 252 state keys per doc vs near_dedup's 4 — the price of
    // never missing a hamming-<=5 pair; rows/s quantifies it
    results += timeStream[SDoc](spark, "simhash_blocks_dedup", wDocs, docs,
      df => graft.streaming.Streams.simhashBlocksDedup(df).toDF())
    results += timeStream[graft.multimodal.Media.MediaRecord](
      spark, "media_dedup", wMedia, media,
      df => graft.streaming.Streams
        .mediaDedup(df.as[graft.multimodal.Media.MediaRecord]).toDF())
    results += timeStream[SVec](spark, "semantic_dedup", wVecs, vecs,
      df => graft.streaming.Streams.semanticDedup(df).toDF())
    results += timeStream[SDoc](spark, "hot_tokens", wDocs, docs,
      df => graft.streaming.Streams.hotTokens(df).toDF())
    // the COMPOSED ingest tier as one streaming query (round 16): the
    // three stateless stages fused — quality score gate → contamination
    // gate → IVFADC encode (the dedup-claim ledger is a separate output
    // by design); rows/s counts ARRIVING docs, so the number is the
    // tier's admission throughput including both gates' rejections
    results += timeStream[SIngest](spark, "ingest_chain", wIngest, ingest,
      df => graft.streaming.Ingest(spark, "encode_ivfadc", dir,
        graft.streaming.Ingest(spark, "gate_contaminated", dir,
          graft.streaming.Ingest(spark, "score", dir, df))))

    // the classic event-stream operators over the REAL events table
    // (100k rows at sf0.1, streamed as-is — the watermark horizons in
    // the operators span the table's event-time range, so state grows
    // but nothing is dropped mid-bench)
    import graft.streaming.Streams.Event
    val events = graft.io.Tables(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event].collect().toSeq.sortBy(_.ts.getTime)
    // warmup takes the EARLIEST slice and the payload starts after it:
    // replaying warmup rows would land behind the advanced watermark
    // and be dropped before the operators do any work
    val wEvents = events.take(500)
    val pEvents = events.drop(500)
    results += timeStream[Event](spark, "windowed_agg", wEvents, pEvents,
      df => graft.streaming.Streams.windowedAgg(df))
    results += timeStream[Event](spark, "sessionize", wEvents, pEvents,
      df => graft.streaming.Streams.sessionize(df.as[Event]).toDF())
    results.toSeq
    }

    // TWO full interleaved passes, best-of per operator: ambient load
    // storms on this box inflate single measurements 4-10x (the r15
    // ScaleSlope lesson — never trust a single shot), and interleaving
    // spaces an operator's two samples minutes apart so one storm
    // cannot hit both. The recorded number is the operator's capacity,
    // not the storm's.
    val p1 = onePass()
    val p2 = onePass()
    val results = p1.map { case (n, rows, rps) =>
      val rps2 = p2.find(_._1 == n).map(_._3).getOrElse(0.0)
      (n, rows, math.max(rps, rps2))
    }.filter(_._2 > 0) // drop SPARK_GRAFT_SB_ONLY-filtered entries

    val json = "{\"sf_dir\":\"" + dir + s"""\",\"rep\":$Rep,\"batches\":$Batches,\"passes\":2,""" +
      "\"operators\":{" + results.map { case (n, rows, rps) =>
        f""""$n":{"rows":$rows,"rows_per_sec":$rps%.0f}"""
      }.mkString(",") + "}}"
    println(json)
    if (only.nonEmpty) return // subset run: never overwrite the record
    java.nio.file.Files.write(
      java.nio.file.Paths.get("docs/stream_bench.json"),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Sessions.stop(spark)
  }
}
