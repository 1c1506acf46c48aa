package graft

import graft.ops.{EventWindows, Pipeline}
import graft.streaming.StreamingWindows
import org.apache.spark.sql.functions._

/** Structured Streaming windows must agree with the batch forms on the
  * same input (the events parquet at sf0.001 drives the stream).
  */
class StreamingSpec extends SparkSuite {

  test("streaming tumbling counts == batch tumbling counts") {
    val dir = "/root/testdata/sf0.001"
    val stream = StreamingWindows.readEventsStream(spark, dir)
    val q = StreamingWindows.runToMemory(
      StreamingWindows.tumblingCounts(stream, "10 minutes"), "stream_tumbling")
    try {
      val streamed = spark.table("stream_tumbling")
        .select("win_start", "event_type", "n", "sum_value")
      val batch = EventWindows.tumbling(Tables.events(spark, dir), 600)
        .select(col("win_start"), col("event_type"), col("n").as("bn"),
          col("sum_value").as("bsum"))
      val joined = streamed.join(batch, Seq("win_start", "event_type"), "full_outer")
      val mismatches = joined.filter(
        col("n").isNull || col("bn").isNull ||
          col("n") =!= col("bn") || col("sum_value") =!= col("bsum")).count()
      assert(mismatches == 0, "streaming and batch windows diverge")
      assert(streamed.count() > 0)
    } finally q.stop()
  }

  test("mapGroupsWithState running counts converge to the batch counts") {
    val dir = "/root/testdata/sf0.001"
    val stream = StreamingWindows.readEventsStream(spark, dir)
    val q = StreamingWindows.runStatefulToMemory(
      StreamingWindows.statefulUserCounts(stream), "stream_state")
    try {
      // update mode emits one row per user per batch; the LAST row per
      // user is the final running count
      val finalCounts = spark.sql(
        """SELECT user_id, n FROM (
          |  SELECT user_id, n, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n DESC) rn
          |  FROM stream_state) WHERE rn = 1""".stripMargin)
      val batch = Tables.events(spark, dir).groupBy("user_id")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("bn"))
      val bad = finalCounts.join(batch, Seq("user_id"), "full_outer")
        .filter(col("n").isNull || col("bn").isNull || col("n") =!= col("bn"))
        .count()
      assert(bad == 0)
    } finally q.stop()
  }

  test("streaming dedup within watermark: doubled input collapses to distinct events") {
    val dir = "/root/testdata/sf0.001"
    // two file sources over the same parquet → every event arrives twice
    val doubled = StreamingWindows.readEventsStream(spark, dir)
      .unionByName(StreamingWindows.readEventsStream(spark, dir))
    val q = StreamingWindows.streamingDedup(doubled)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_dedup").start()
    try {
      q.processAllAvailable()
      val got = spark.table("stream_dedup")
      val want = Tables.events(spark, dir).count()
      assert(got.count() == want, "dedup must collapse the doubled stream")
      assert(got.select("event_id").distinct().count() == want)
    } finally q.stop()
  }

  test("stream-static broadcast join enriches every event, no state") {
    val dir = "/root/testdata/sf0.001"
    val stream = StreamingWindows.readEventsStream(spark, dir)
    val dim = Tables.events(spark, dir).select(col("user_id")).distinct()
      .withColumn("segment", pmod(col("user_id"), lit(5L)))
    val q = StreamingWindows.enrichWithStatic(stream, dim, "user_id")
      .select("event_id", "user_id", "segment")
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_enrich").start()
    try {
      q.processAllAvailable()
      val got = spark.table("stream_enrich")
      assert(got.count() == Tables.events(spark, dir).count())
      assert(got.filter(col("segment") =!= pmod(col("user_id"), lit(5L))).count() == 0)
      assert(got.filter(col("segment").isNull).count() == 0)
    } finally q.stop()
  }

  test("streaming Bloom exact-dup filter == batch bloomReject: corpus " +
      "members always rejected, stateless map-only probe") {
    import graft.ops.Dedup
    val dir = "/root/testdata/sf0.001"
    val batchDocs = Tables.documents(spark, dir)
    val bloom = Dedup.buildExactBloom(
      batchDocs.filter(col("doc_id") < 100), expectedItems = 200L, fpp = 0.01)
    val stream = spark.readStream.schema(batchDocs.schema)
      .parquet(s"$dir/documents.parque[t]")
    val q = Dedup.bloomReject(stream, bloom)
      .select("doc_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_bloom").start()
    try {
      q.processAllAvailable()
      val got = collectCol[Long](spark.table("stream_bloom").orderBy("doc_id"), "doc_id")
      val want = collectCol[Long](
        Dedup.bloomReject(batchDocs, bloom)
          .select("doc_id").orderBy("doc_id"), "doc_id")
      assert(got == want)
      assert(got.nonEmpty && !got.exists(_ < 100),
        "bloom has no false negatives: every corpus member must be dropped")
    } finally q.stop()
  }

  test("streaming near-dup ingest filter drops exactly the batch-expected docs") {
    import graft.ops.Dedup
    val dir = "/root/testdata/sf0.001"
    val batchDocs = Tables.documents(spark, dir)
    val keys = Dedup.corpusBandKeys(batchDocs.filter(col("doc_id") < 100),
      Pipeline.DefaultBands, Pipeline.DefaultRowsPerBand)
    val stream = spark.readStream.schema(batchDocs.schema)
      .parquet(s"$dir/documents.parque[t]")
    val q = Dedup.bandKeyReject(stream, keys, minJaccard = None)
      .select("doc_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_neardup").start()
    try {
      q.processAllAvailable()
      val got = collectCol[Long](spark.table("stream_neardup").orderBy("doc_id"), "doc_id")
      // the same operator applied in batch is the ground truth
      val want = collectCol[Long](
        Dedup.bandKeyReject(batchDocs, keys, minJaccard = None)
          .select("doc_id").orderBy("doc_id"), "doc_id")
      assert(got == want)
      assert(got.nonEmpty && !got.exists(_ < 100), // corpus docs self-reject
        s"corpus members must be filtered, got ${got.count(_ < 100)}")
    } finally q.stop()
  }

  test("near-dup filter AT SCALE: chained hash anti-joins == broadcast form " +
      "with broadcast disabled (verdict r02 item 7)") {
    import graft.ops.Dedup
    val dir = "/root/testdata/sf0.001"
    val batchDocs = Tables.documents(spark, dir)
    val keys = Dedup.corpusBandKeys(batchDocs.filter(col("doc_id") < 100),
      Pipeline.DefaultBands, Pipeline.DefaultRowsPerBand)
    val stream = spark.readStream.schema(batchDocs.schema)
      .parquet(s"$dir/documents.parque[t]")
    // force the corpus key set past the broadcast path entirely: the
    // chained per-band anti-joins must plan as shuffle hash/merge joins
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val filtered = Dedup.bandKeyReject(stream, keys, minJaccard = None)
      val q = filtered.select("doc_id")
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_neardup_scale").start()
      try {
        q.processAllAvailable()
        val got = collectCol[Long](
          spark.table("stream_neardup_scale").orderBy("doc_id"), "doc_id")
        // the batch call runs the one-join core: same rows as the chain
        val want = collectCol[Long](
          Dedup.bandKeyReject(batchDocs, keys, minJaccard = None)
            .select("doc_id").orderBy("doc_id"), "doc_id")
        assert(got == want)
        assert(got.nonEmpty && !got.exists(_ < 100))
      } finally q.stop()
      // and no broadcast nested loop appears in the chain core's plan
      val plan = Dedup.nearDupRejectChain(batchDocs, keys,
          Pipeline.DefaultBands, Pipeline.DefaultRowsPerBand, "text", None)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("end-to-end streaming ingest: quality gate -> exact dedup -> near-dup " +
      "reject, kept set == batch composition (x35's streaming twin)") {
    import graft.ops.{Dedup, TextAnalysis}
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val corpusKeys = Dedup.corpusBandKeys(docs.filter(col("doc_id") < 100),
      Pipeline.DefaultBands, Pipeline.DefaultRowsPerBand)
    // the full ingest pipeline as one stream-composable function: per-row
    // quality gate (stateless projection+filter), exact dedup on content
    // hash (stateful), band-key near-dup rejection (stream-static hash
    // anti-joins). Works unchanged on a batch frame — that's the oracle.
    def pipeline(d: org.apache.spark.sql.DataFrame) = {
      val scored = TextAnalysis.quality(d.withColumn("_t", col("text")),
          textCol = "_t", idCol = "doc_id")
        .select(col("doc_id").as("_qid"), col("quality"))
      val gated = d.join(scored, col("doc_id") === col("_qid"))
        .filter(col("quality") > 0.3).drop("_qid", "quality")
      val deduped = gated.withColumn("_h", md5(col("text"))).dropDuplicates("_h")
      Dedup.bandKeyReject(deduped, corpusKeys, minJaccard = None)
        .select(col("_h"))
    }
    // stream-side quality gate must stay stateless: join with a scored
    // side of the SAME stream is a stream-stream join — instead inline
    // the gate for the streaming run
    def streamPipeline(d: org.apache.spark.sql.DataFrame) = {
      val gated = d.filter(TextAnalysis.qualityExpr(col("text")) > 0.3)
      val deduped = gated.withColumn("_h", md5(col("text"))).dropDuplicates("_h")
      Dedup.bandKeyReject(deduped, corpusKeys, minJaccard = None)
        .select(col("_h"))
    }
    val stream = spark.readStream.schema(docs.schema)
      .parquet(s"$dir/documents.parque[t]")
    val q = streamPipeline(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("ingest_e2e").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ingest_e2e").collect().map(_.getString(0)).toSet
      val want = pipeline(docs).collect().map(_.getString(0)).toSet
      assert(got == want)
      assert(want.nonEmpty)
    } finally q.stop()
  }

  test("one-call streamingIngestCuration == the same composition in batch; " +
      "corpus members rejected at ingest") {
    import graft.ops.Dedup
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") < 100)
    val bloom = Dedup.buildExactBloom(corpus, expectedItems = 200L, fpp = 0.01)
    val keys = Dedup.corpusBandKeys(corpus,
      Pipeline.DefaultBands, Pipeline.DefaultRowsPerBand)
    val stream = spark.readStream.schema(docs.schema)
      .parquet(s"$dir/documents.parque[t]")
    val q = StreamingWindows.streamingIngestCuration(stream, bloom, keys)
      .select("doc_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("ingest_onecall").start()
    try {
      q.processAllAvailable()
      val got = collectCol[Long](spark.table("ingest_onecall").orderBy("doc_id"), "doc_id")
      // the identical one-call gate applied to the batch frame is the oracle
      val want = collectCol[Long](
        StreamingWindows.streamingIngestCuration(docs, bloom, keys)
          .select("doc_id").orderBy("doc_id"), "doc_id")
      assert(got == want && got.nonEmpty)
      assert(!got.exists(_ < 100),
        "every corpus member must be rejected (bloom has no false negatives)")
    } finally q.stop()
  }

  test("Jaccard-verified streaming near-dup gate: stream == batch, and a " +
      "band collision alone cannot drop a good doc (round-6 verdict #3)") {
    import graft.ops.Dedup
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val bandDocs = Dedup.corpusBandDocs(docs.filter(col("doc_id") < 100),
      Pipeline.DefaultBands, Pipeline.DefaultRowsPerBand)
    val stream = spark.readStream.schema(docs.schema)
      .parquet(s"$dir/documents.parque[t]")
    val q = Dedup.bandKeyReject(stream, bandDocs, minJaccard = Some(0.5))
      .select("doc_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_verified").start()
    try {
      q.processAllAvailable()
      val got = collectCol[Long](
        spark.table("stream_verified").orderBy("doc_id"), "doc_id")
      val want = collectCol[Long](
        Dedup.bandKeyReject(docs, bandDocs, minJaccard = Some(0.5))
          .select("doc_id").orderBy("doc_id"), "doc_id")
      assert(got == want)
      assert(got.nonEmpty && !got.exists(_ < 100),
        "exact corpus members verify at J=1 and must self-reject")
    } finally q.stop()

    // precision pin: a banding-colliding near-dup (J≈0.82) is dropped at
    // tau=0.5 but KEPT at tau=0.95 — deletion is gated on VERIFIED
    // similarity, while the unverified gate drops it at any threshold
    val corpus2 = frame("doc_id" -> Seq(1L), "text" -> Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val incoming = frame("doc_id" -> Seq(2L), "text" -> Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
    val bd2 = Dedup.corpusBandDocs(corpus2,
      Pipeline.DefaultBands, Pipeline.DefaultRowsPerBand)
    val keys2 = Dedup.corpusBandKeys(corpus2,
      Pipeline.DefaultBands, Pipeline.DefaultRowsPerBand)
    // vacuity guard: the planted pair really collides on a band (the
    // unverified gate rejects it), so the tau=0.95 keep below is the
    // verification working, not the collision failing to happen
    assert(Dedup.bandKeyReject(incoming, keys2, minJaccard = None).isEmpty,
      "planted pair must band-collide")
    assert(Dedup.bandKeyReject(
      incoming, bd2, minJaccard = Some(0.5)).isEmpty)
    assert(collectCol[Long](Dedup.bandKeyReject(
        incoming, bd2, minJaccard = Some(0.95)).select("doc_id"), "doc_id") == Seq(2L),
      "band collision below the Jaccard bar must NOT drop the doc")

    // the one-call gate composes the verified form when asked
    val bloom = Dedup.buildExactBloom(corpus2, expectedItems = 10L)
    val kept = StreamingWindows.streamingIngestCuration(
      incoming, bloom, keys2, minQuality = 0.0,
      verifyAgainst = Some(bd2), minJaccard = 0.95)
    assert(collectCol[Long](kept.select("doc_id"), "doc_id") == Seq(2L))
  }

  test("streaming embedding near-dup gate == batch; scaled duplicates are " +
      "rejected (cosine residual), dissimilar vectors pass") {
    import graft.functions.Similarity
    val dir = "/root/testdata/sf0.001"
    val embs = Tables.embeddings(spark, dir)
    val dim = embs.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    val corpusBuckets = Similarity.corpusEmbeddingBuckets(
      embs.filter(col("vec_id") < 200), nPlanes = 4, dim = dim)
    val stream = spark.readStream.schema(embs.schema)
      .parquet(s"$dir/embeddings.parque[t]")
    val q = Similarity.embeddingNearDupReject(
        stream, corpusBuckets, nPlanes = 4, dim = dim, minCosine = 0.95)
      .select("vec_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_embgate").start()
    try {
      q.processAllAvailable()
      val got = collectCol[Long](
        spark.table("stream_embgate").orderBy("vec_id"), "vec_id")
      val want = collectCol[Long](
        Similarity.embeddingNearDupReject(
            embs, corpusBuckets, nPlanes = 4, dim = dim, minCosine = 0.95)
          .select("vec_id").orderBy("vec_id"), "vec_id")
      assert(got == want)
      assert(got.nonEmpty && !got.exists(_ < 200),
        "corpus members cosine-match themselves at 1.0 and must self-reject")
    } finally q.stop()

    // planted: a SCALED copy of a corpus vector keeps its bucket (signs
    // are scale-invariant) and cosine 1.0 → rejected; a dissimilar
    // vector survives even when it shares a bucket (the residual fails)
    val corpus2 = frame("vec_id" -> Seq(1L),
      "embedding" -> Seq(Seq(1.0, 2.0, 3.0, 4.0)))
    val cb2 = Similarity.corpusEmbeddingBuckets(corpus2, nPlanes = 4, dim = 4)
    val incoming = frame(
      "vec_id" -> Seq[Any](10L, 11L),
      "embedding" -> Seq(Seq(2.0, 4.0, 6.0, 8.0), Seq(-3.0, 1.0, 2.0, -2.0)))
    val kept = collectCol[Long](
      Similarity.embeddingNearDupReject(incoming, cb2,
        nPlanes = 4, dim = 4, minCosine = 0.95).select("vec_id"), "vec_id")
    assert(kept == Seq(11L),
      s"scaled dup must drop, dissimilar vector must pass; kept $kept")
  }

  test("corpus-state bucket pressure: the ingest-side histogram reads the " +
      "PREBUILT state and conserves its row mass (round-16 Next #8)") {
    import graft.ops.Dedup
    import graft.functions.Similarity
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 200)
    val state = Dedup.corpusBandDocs(docs,
      Pipeline.DefaultBands, Pipeline.DefaultRowsPerBand).cache()
    try {
      val pressure = Dedup.corpusStatePressure(state).collect()
      val stateRows = state.count()
      val distinctBk = state.select("bk").distinct().count()
      assert(pressure.map(_.getLong(1)).sum == distinctBk,
        "n_buckets must sum to the distinct band keys")
      assert(pressure.map(_.getLong(2)).sum == stateRows,
        "bucket_size * n_buckets must conserve the state's row mass")
      assert(pressure.forall(r => r.getLong(2) ==
        r.getLong(0) * r.getLong(1)), "n_state_rows = size * count")
    } finally { state.unpersist(); () }
    // the embedding twin, keyed on `bucket`
    val embs = Tables.embeddings(spark, dir)
    val dim = embs.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    val eState = Similarity.corpusEmbeddingBuckets(embs, nPlanes = 4,
      dim = dim).cache()
    try {
      val p = Dedup.corpusStatePressure(eState, Seq("bucket")).collect()
      assert(p.map(_.getLong(2)).sum == eState.count(),
        "embedding pressure must conserve the state's row mass")
    } finally { eState.unpersist(); () }
  }

  test("streaming QUANTIZED embedding gate == batch; state ships as " +
      "ARRAY<TINYINT>; scaled dup rejected through int8 residual") {
    import graft.functions.Similarity
    import org.apache.spark.sql.types.{ArrayType, ByteType}
    val dir = "/root/testdata/sf0.001"
    val embs = Tables.embeddings(spark, dir)
    val dim = embs.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    val qb = Similarity.quantizedCorpusBuckets(
      embs.filter(col("vec_id") < 200), nPlanes = 4, dim = dim)
    // the 8x-in-flight claim rests on the state actually being int8
    assert(qb.schema("ce").dataType == ArrayType(ByteType),
      s"state not tinyint: ${qb.schema("ce").dataType}")
    val stream = spark.readStream.schema(embs.schema)
      .parquet(s"$dir/embeddings.parque[t]")
    val q = Similarity.embeddingNearDupReject(
        stream, qb, nPlanes = 4, dim = dim, minCosine = 0.95)
      .select("vec_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_qembgate").start()
    try {
      q.processAllAvailable()
      val got = collectCol[Long](
        spark.table("stream_qembgate").orderBy("vec_id"), "vec_id")
      val want = collectCol[Long](
        Similarity.embeddingNearDupReject(
            embs, qb, nPlanes = 4, dim = dim, minCosine = 0.95)
          .select("vec_id").orderBy("vec_id"), "vec_id")
      assert(got == want)
      assert(got.nonEmpty && !got.exists(_ < 200),
        "corpus members must still self-reject through the int8 residual " +
          "(quantization preserves direction: cos(v, q(v)) ~ 1)")
    } finally q.stop()

    // planted: scale-invariant bucket + int8 residual still rejects the
    // scaled copy; the dissimilar bucket-mate still survives
    val corpus2 = frame("vec_id" -> Seq(1L),
      "embedding" -> Seq(Seq(1.0, 2.0, 3.0, 4.0)))
    val qb2 = Similarity.quantizedCorpusBuckets(corpus2, nPlanes = 4, dim = 4)
    val incoming = frame(
      "vec_id" -> Seq[Any](10L, 11L),
      "embedding" -> Seq(Seq(2.0, 4.0, 6.0, 8.0), Seq(-3.0, 1.0, 2.0, -2.0)))
    val kept2 = collectCol[Long](
      Similarity.embeddingNearDupReject(incoming, qb2,
        nPlanes = 4, dim = 4, minCosine = 0.95).select("vec_id"), "vec_id")
    assert(kept2 == Seq(11L), s"kept $kept2")
  }

  test("foreachBatch parquet sink: streaming agg lands as queryable parquet == batch") {
    val dir = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("stream_sink").toString
    val stream = StreamingWindows.readEventsStream(spark, dir)
    // the production sink shape: every micro-batch writes atomically via
    // foreachBatch (complete mode → overwrite with the current totals)
    val q = StreamingWindows.tumblingCounts(stream, "10 minutes")
      .writeStream.outputMode("complete")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.write.mode("overwrite").parquet(out)
      }
      .start()
    try {
      q.processAllAvailable()
      val got = spark.read.parquet(out)
        .select("win_start", "event_type", "n", "sum_value")
      val batch = ops.EventWindows.tumbling(Tables.events(spark, dir), 600)
        .select(col("win_start"), col("event_type"), col("n").as("bn"),
          col("sum_value").as("bs"))
      val bad = got.join(batch, Seq("win_start", "event_type"), "full_outer")
        .filter(col("n").isNull || col("bn").isNull ||
          col("n") =!= col("bn") || col("sum_value") =!= col("bs")).count()
      assert(bad == 0 && got.count() > 0)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessions == batch sessions (closed ones)") {
    val dir = "/root/testdata/sf0.001"
    val stream = StreamingWindows.readEventsStream(spark, dir)
    val q = StreamingWindows.streamingSessions(stream, 1800)
      .writeStream.outputMode("update").format("memory")
      .queryName("stream_sessions").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_sessions")
        .select("user_id", "session_id", "n_events", "sess_start", "duration_s")
      // with one input batch, the stream emits every session except each
      // user's final (still-open) one
      val batch = ops.EventWindows.sessions(Tables.events(spark, dir), 1800)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
      val batchClosed = batch
        .withColumn("mx", org.apache.spark.sql.functions.max(col("session_id")).over(w))
        .filter(col("session_id") =!= col("mx"))
        .drop("mx")
      assert(streamed.count() == batchClosed.count())
      assert(streamed.count() > 0)
      assert(streamed.intersect(batchClosed.select(
        "user_id", "session_id", "n_events", "sess_start", "duration_s")).count()
        == streamed.count())
    } finally q.stop()
    // pre-1970 and fractional-second nanos: both forms FLOOR to epoch
    // seconds (-1.5 s is second -2), so sess_start agrees where a
    // truncating division (second -1) would not
    val edgeDir = java.nio.file.Files.createTempDirectory("sessedge").toString
    val edge = frame(
      "user_id" -> Seq(1L, 1L, 1L, 2L, 2L, 2L, 2L),
      "ts_ns" -> Seq(-1500000000L, -500000000L, 10000000000000L,
        -7200750000000L, -7100250000000L, -3600500000000L, 5500000000L),
      "event_id" -> Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    edge.coalesce(1).write.mode("overwrite").parquet(s"$edgeDir/in")
    val eq = StreamingWindows.streamingSessions(
        spark.readStream.schema(edge.schema).parquet(s"$edgeDir/in"), 200)
      .writeStream.outputMode("update").format("memory")
      .queryName("stream_sessions_edge").start()
    try {
      eq.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("user_id", "session_id", "n_events", "sess_start",
          "duration_s")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val all = rows(ops.EventWindows.sessions(edge, 200))
      val last = all.groupBy(_._1).map { case (u, ss) => u -> ss.map(_._2).max }
      val want = all.filter(r => r._2 != last(r._1))
      assert(want == Set((1L, 1L, 2L, -2L, 1L), (2L, 1L, 2L, -7201L, 100L),
        (2L, 2L, 1L, -3601L, 0L)), s"batch sessions: $want")
      val got = rows(spark.table("stream_sessions_edge"))
      assert(got == want, s"streamed $got != batch $want")
    } finally eq.stop()
  }

  test("streaming perceptual image gate == batch: noisy variant of a corpus " +
      "image rejects through the banded Hamming residual, novel base " +
      "pattern passes, undecodable payloads emit no row") {
    import graft.ops.{Dedup, MediaDoc, Multimodal}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val corpusMedia = Seq(31, 41, 51).zipWithIndex.map { case (m, i) =>
      MediaDoc(i.toLong, "media/image", Multimodal.synthBmpNoisy(16, 16, m, 0))
    }
    val corpusBands = Dedup.corpusHashBands(
      Multimodal.imageAHashes(spark.createDataset(corpusMedia)),
      "phash", nBits = 64, nBands = 16)
    val incoming = Seq(
      MediaDoc(10L, "media/image", Multimodal.synthBmpNoisy(16, 16, 31, 2)),
      MediaDoc(11L, "media/image", Multimodal.synthBmpNoisy(16, 16, 97, 0)),
      MediaDoc(12L, "media/image", "not an image".getBytes))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[MediaDoc]
    mem.addData(incoming: _*)
    def gate(media: org.apache.spark.sql.Dataset[MediaDoc]) =
      Dedup.hashNearDupReject(Multimodal.imageAHashes(media), corpusBands,
        nBits = 64, nBands = 16, maxHamming = 11)
    val q = gate(mem.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_imggate").start()
    try {
      q.processAllAvailable()
      val got = spark.table("stream_imggate")
        .collect().map(_.getLong(0)).sorted.toSeq
      val want = gate(spark.createDataset(incoming))
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got == want, s"stream $got != batch $want")
      assert(got == Seq(11L),
        s"noisy near-dup must reject, novel must pass, junk must vanish: $got")
    } finally q.stop()
  }

  test("streaming funnel: per-user state machine across in-order " +
      "micro-batches == batch funnel, bounded and unbounded") {
    val dir = "/root/testdata/sf0.001"
    val steps = Seq("signup", "view", "click", "purchase")
    val batchEvents = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_ns"), col("event_id"))
    // two micro-batches split at the median event time: in-order ACROSS
    // batches (the equivalence contract), arbitrary order within each
    val cut = batchEvents.selectExpr("percentile_approx(ts_ns, 0.5)")
      .head().getLong(0)
    val splitDir = java.nio.file.Files.createTempDirectory("funstream").toString
    batchEvents.filter(col("ts_ns") <= cut).coalesce(1)
      .write.mode("overwrite").parquet(s"$splitDir/in")
    val stream = spark.readStream.schema(batchEvents.schema)
      .parquet(s"$splitDir/in")
    val horizon = 2L * 86400
    val q = StreamingWindows.streamingFunnel(stream, steps, Some(horizon))
      .writeStream.outputMode("update").format("memory")
      .queryName("stream_funnel").start()
    try {
      q.processAllAvailable()
      batchEvents.filter(col("ts_ns") > cut).coalesce(1)
        .write.mode("append").parquet(s"$splitDir/in")
      q.processAllAvailable()
      // stage is monotone per user: the final state is the max emission
      val gotStages = spark.sql(
        "SELECT user_id, MAX(stage) AS stage FROM stream_funnel GROUP BY 1")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = graft.ops.EventAnalytics
        .funnelWithin(batchEvents, steps, horizon)
        .orderBy("step").collect().map(_.getLong(2)).toSeq
      val got = (1 to steps.length).map(i =>
        gotStages.count { case (_, s) => s >= i }.toLong)
      assert(got == want,
        s"streaming stage counts $got != batch funnel $want")
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 2,
        s"need >= 2 non-empty micro-batches, saw ${batches.length}")
    } finally q.stop()
  }

  test("streaming anomaly monitor: closed-window scores across in-order " +
      "micro-batches == batch anomalyScores minus each type's open window") {
    val dir = "/root/testdata/sf0.001"
    val batchEvents = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_ns"), col("event_id"))
    val cut = batchEvents.selectExpr("percentile_approx(ts_ns, 0.5)")
      .head().getLong(0)
    val splitDir = java.nio.file.Files.createTempDirectory("anostream").toString
    batchEvents.filter(col("ts_ns") <= cut).coalesce(1)
      .write.mode("overwrite").parquet(s"$splitDir/in")
    val stream = spark.readStream.schema(batchEvents.schema)
      .parquet(s"$splitDir/in")
    val q = StreamingWindows.streamingAnomalyScores(stream, widthSec = 600)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_anomaly").start()
    try {
      q.processAllAvailable()
      batchEvents.filter(col("ts_ns") > cut).coalesce(1)
        .write.mode("append").parquet(s"$splitDir/in")
      q.processAllAvailable()
      val got = spark.table("stream_anomaly")
        .collect().map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)),
            r.getBoolean(4)))).toMap
      // the batch form also scores each type's FINAL window; the stream
      // never emits a still-open window — drop those rows from the oracle
      val batch = graft.ops.EventAnalytics
        .anomalyScores(batchEvents, widthSec = 600)
      val lastWin = batch.groupBy(col("event_type"))
        .agg(max(col("win_start")).as("_last"))
      val want = batch.join(lastWin, "event_type")
        .filter(col("win_start") < col("_last"))
        .collect().map(r => (r.getLong(1), r.getString(0)) ->
          ((r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)),
            r.getBoolean(4)))).toMap
      assert(got == want,
        s"streaming scores diverge: got ${got.size} rows, want ${want.size}")
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 2,
        s"need >= 2 non-empty micro-batches, saw ${batches.length}")
    } finally q.stop()
  }

  test("stream-stream interval self-join == batch conversionPairs " +
      "(watermarked state, pairs across the batch split)") {
    val dir = "/root/testdata/sf0.001"
    val batchEvents = Tables.events(spark, dir)
    val cut = batchEvents.selectExpr("percentile_approx(ts_ns, 0.5)")
      .head().getLong(0)
    val splitDir = java.nio.file.Files.createTempDirectory("ssjoin").toString
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val src = spark.read.parquet(s"$dir/events.parquet")
    val tsNs = Tables.events(spark, dir).select(col("event_id"), col("ts_ns"))
    val withNs = src.join(tsNs, "event_id")
    withNs.filter(col("ts_ns") <= cut).select(cols.map(col): _*).coalesce(1)
      .write.mode("overwrite").parquet(s"$splitDir/in")
    val streamIn = spark.readStream
      .schema(StreamingWindows.eventsSchema(src.schema("ts").dataType))
      .parquet(s"$splitDir/in")
    val evStream = src.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        streamIn.withColumn("ts_ns", col("ts"))
          .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
      case _ =>
        streamIn
          .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
    }
    val q = StreamingWindows.streamingConversionPairs(evStream, "view",
        "purchase", lagSec = 3600)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_pairs").start()
    try {
      q.processAllAvailable()
      withNs.filter(col("ts_ns") > cut).select(cols.map(col): _*).coalesce(1)
        .write.mode("append").parquet(s"$splitDir/in")
      q.processAllAvailable()
      val got = spark.table("stream_pairs")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      val want = graft.ops.EventAnalytics
        .conversionPairs(batchEvents, "view", "purchase", 3600)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(got == want,
        s"stream-stream join diverges: got ${got.size}, want ${want.size}; " +
          s"missing ${(want -- got).take(3)}, extra ${(got -- want).take(3)}")
      assert(want.nonEmpty, "fixture should produce pairs")
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 2,
        s"need >= 2 non-empty micro-batches, saw ${batches.length}")
    } finally q.stop()
  }

  test("streaming KMV monitor: sketch state merged across micro-batches " +
      "converges to the batch sketch (KMV merge across TIME)") {
    val dir = "/root/testdata/sf0.001"
    val batchDocs = Tables.documents(spark, dir)
    // half the corpus first, the other half only after the first batch is
    // fully processed → two micro-batches BY CONSTRUCTION, so the state
    // merge path is actually exercised
    val splitDir = java.nio.file.Files.createTempDirectory("kmvstream").toString
    batchDocs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$splitDir/in")
    val stream = spark.readStream.schema(batchDocs.schema)
      .parquet(s"$splitDir/in")
    val q = StreamingWindows.streamingKmvMonitor(stream, k = 32)
      .writeStream.outputMode("update").format("memory")
      .queryName("stream_kmv").start()
    try {
      q.processAllAvailable()
      batchDocs.filter(col("doc_id") % 2 =!= 0).coalesce(1)
        .write.mode("append").parquet(s"$splitDir/in")
      q.processAllAvailable()
      // update mode emits one row per source per batch; the FINAL state
      // is the most refined sketch: max n_sketch, then min kth_hash
      val got = spark.sql(
        """SELECT source, n_sketch, kth_hash, kmv_estimate FROM (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
          |    ORDER BY n_sketch DESC, kth_hash ASC) rn FROM stream_kmv)
          |WHERE rn = 1""".stripMargin)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      val want = graft.ops.Sketches.kmvReport(batchDocs, k = 32)
        .filter(col("source") =!= "__all__")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(got == want, s"streaming sketch diverges from batch:\n" +
        s" got  $got\n want $want")
      // the state-merge path must actually have run across batches: two
      // micro-batches, each with real input (the memory sink's update
      // mode retention is an implementation detail; progress is not)
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 2,
        s"need >= 2 non-empty micro-batches, saw ${batches.length}")
    } finally q.stop()
  }

  test("streaming line-quality gate == batch lineQualityCuration (stateless " +
      "map-only, append mode, no watermark)") {
    val dir = "/root/testdata/sf0.001"
    val batchDocs = Tables.documents(spark, dir)
    val stream = spark.readStream.schema(batchDocs.schema)
      .parquet(s"$dir/documents.parque[t]")
    val q = graft.ops.TextAnalysis.lineQualityCuration(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_linequality").start()
    try {
      q.processAllAvailable()
      val got = spark.table("stream_linequality").orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSeq
      val want = graft.ops.TextAnalysis.lineQualityCuration(batchDocs)
        .orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSeq
      assert(got == want, s"stream and batch line gates diverge")
      assert(got.nonEmpty && got.size < batchDocs.count(),
        "gate must pass some docs and drop some docs on this corpus")
    } finally q.stop()
  }

  test("streaming classifier gate == batch classifierScore (stateless " +
      "map-only, append mode, no watermark, no streaming aggregation)") {
    val dir = "/root/testdata/sf0.001"
    val batchDocs = Tables.documents(spark, dir)
    val stream = spark.readStream.schema(batchDocs.schema)
      .parquet(s"$dir/documents.parque[t]")
    val q = graft.ops.TextAnalysis.classifierScore(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_classifier").start()
    try {
      q.processAllAvailable()
      val got = spark.table("stream_classifier").orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getBoolean(4))).toSeq
      val want = graft.ops.TextAnalysis.classifierScore(batchDocs)
        .orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getBoolean(4))).toSeq
      assert(got == want, "stream and batch classifier gates diverge")
      val kept = got.count(_._4)
      assert(kept > 0 && kept < got.size,
        "gate must keep some docs and drop some docs on this corpus")
    } finally q.stop()
  }

  test("streaming TRAINED classifier gate == batch " +
      "classifierScoreWithWeights (bounded weights driver-materialized " +
      "into a map-only scorer; append mode, no state)") {
    val dir = "/root/testdata/sf0.001"
    val batchDocs = Tables.documents(spark, dir)
    val w = graft.ops.TextAnalysis.trainHashedWeights(batchDocs,
      org.apache.spark.sql.functions.col("lang") === "en", dims = 32)
    val stream = spark.readStream.schema(batchDocs.schema)
      .parquet(s"$dir/documents.parque[t]")
    val q = graft.ops.TextAnalysis.classifierScoreWithWeights(stream, w,
        dims = 32)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_trained_classifier").start()
    try {
      q.processAllAvailable()
      def shape(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getBoolean(4))
      val got = spark.table("stream_trained_classifier").orderBy("doc_id")
        .collect().map(shape).toSeq
      val want = graft.ops.TextAnalysis
        .classifierScoreWithWeights(batchDocs, w, dims = 32)
        .orderBy("doc_id").collect().map(shape).toSeq
      assert(got == want,
        "stream and batch trained-classifier gates diverge")
      val kept = got.count(_._5)
      assert(kept > 0 && kept < got.size,
        "gate must keep some docs and drop some docs on this corpus")
    } finally q.stop()
  }

  test("streaming CMS monitor: cell-wise state addition across " +
      "micro-batches == batch sketch of the whole corpus") {
    val dir = "/root/testdata/sf0.001"
    val batchDocs = Tables.documents(spark, dir)
    val splitDir = java.nio.file.Files.createTempDirectory("cmsstream").toString
    batchDocs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$splitDir/in")
    val stream = spark.readStream.schema(batchDocs.schema)
      .parquet(s"$splitDir/in")
    val q = StreamingWindows.streamingCmsMonitor(stream, depth = 4,
        width = 256)
      .writeStream.outputMode("update").format("memory")
      .queryName("stream_cms").start()
    try {
      q.processAllAvailable()
      batchDocs.filter(col("doc_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(s"$splitDir/in")
      q.processAllAvailable()
      // totals are monotone: the latest emission per cell is its max
      val got = spark.table("stream_cms")
        .groupBy(col("d"), col("bucket"))
        .agg(max(col("cnt")).as("cnt"))
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = graft.ops.Sketches.cmsSketch(batchDocs, depth = 4,
          width = 256)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == want,
        s"streaming sketch diverges: got ${got.size} cells, want ${want.size}")
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 2,
        s"need >= 2 non-empty micro-batches, saw ${batches.length}")
    } finally q.stop()
  }

  test("streaming EWMA monitor: closed-day smoothing across in-order " +
      "micro-batches == batch ewmaDaily minus each type's open day, " +
      "BITWISE (dyadic weights)") {
    val dir = "/root/testdata/sf0.001"
    val batchEvents = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_ns"), col("event_id"))
    val cut = batchEvents.selectExpr("percentile_approx(ts_ns, 0.5)")
      .head().getLong(0)
    val splitDir = java.nio.file.Files.createTempDirectory("ewmastream").toString
    batchEvents.filter(col("ts_ns") <= cut).coalesce(1)
      .write.mode("overwrite").parquet(s"$splitDir/in")
    val stream = spark.readStream.schema(batchEvents.schema)
      .parquet(s"$splitDir/in")
    val q = StreamingWindows.streamingEwmaDaily(stream, windowDays = 5)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_ewma").start()
    try {
      q.processAllAvailable()
      batchEvents.filter(col("ts_ns") > cut).coalesce(1)
        .write.mode("append").parquet(s"$splitDir/in")
      q.processAllAvailable()
      val got = spark.table("stream_ewma")
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getDouble(3)))).toMap
      val batch = graft.ops.EventAnalytics
        .ewmaDaily(batchEvents, windowDays = 5)
      val lastDay = batch.groupBy(col("event_type"))
        .agg(max(col("day")).as("_last"))
      val want = batch.join(lastDay, "event_type")
        .filter(col("day") < col("_last"))
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getDouble(3)))).toMap
      assert(got == want,
        s"streaming ewma diverges: got ${got.size} rows, want ${want.size}")
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 2,
        s"need >= 2 non-empty micro-batches, saw ${batches.length}")
    } finally q.stop()
  }

  test("streaming SCD2: closed validity intervals across in-order " +
      "micro-batches == batch scd2History minus each key's open interval") {
    val dir = "/root/testdata/sf0.001"
    val batchEvents = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_ns"), col("event_id"))
    val cut = batchEvents.selectExpr("percentile_approx(ts_ns, 0.5)")
      .head().getLong(0)
    val splitDir = java.nio.file.Files.createTempDirectory("scd2stream").toString
    batchEvents.filter(col("ts_ns") <= cut).coalesce(1)
      .write.mode("overwrite").parquet(s"$splitDir/in")
    val stream = spark.readStream.schema(batchEvents.schema)
      .parquet(s"$splitDir/in")
    val q = StreamingWindows.streamingScd2(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_scd2").start()
    try {
      q.processAllAvailable()
      batchEvents.filter(col("ts_ns") > cut).coalesce(1)
        .write.mode("append").parquet(s"$splitDir/in")
      q.processAllAvailable()
      val got = spark.table("stream_scd2")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet
      val want = graft.ops.EventAnalytics
        .scd2History(batchEvents, "user_id", "event_type", "ts_ns", "event_id")
        .filter(!col("is_current"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(got == want,
        s"streaming scd2 diverges: got ${got.size} rows, want ${want.size}")
      assert(got.nonEmpty, "no closed intervals — degenerate fixture")
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 2,
        s"need >= 2 non-empty micro-batches, saw ${batches.length}")
    } finally q.stop()
  }

  test("streaming Holt-Winters: closed-day recurrence across " +
      "micro-batches == JVM reference fold BITWISE on the dense grid; " +
      "chained final day reproduces batch holtWintersDaily") {
    val dir = "/root/testdata/sf0.001"
    val batchEvents = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_ns"),
        col("event_id"))
    val cut = batchEvents.selectExpr("percentile_approx(ts_ns, 0.5)")
      .head().getLong(0)
    val splitDir = java.nio.file.Files.createTempDirectory("hwstream")
      .toString
    batchEvents.filter(col("ts_ns") <= cut).coalesce(1)
      .write.mode("overwrite").parquet(s"$splitDir/in")
    val stream = spark.readStream.schema(batchEvents.schema)
      .parquet(s"$splitDir/in")
    val q = StreamingWindows.streamingHoltWinters(stream, period = 7)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_hw").start()
    try {
      q.processAllAvailable()
      batchEvents.filter(col("ts_ns") > cut).coalesce(1)
        .write.mode("append").parquet(s"$splitDir/in")
      q.processAllAvailable()
      val got = spark.table("stream_hw").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
      def r6(d: Double) = BigDecimal(d)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val batchOut = graft.ops.EventAnalytics
        .holtWintersDaily(batchEvents, period = 7)
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3),
            r.getDouble(4)))).toMap
      // JVM reference: dense zero-filled grid per type, same recurrence
      val daily = batchEvents
        .groupBy(col("event_type"),
          expr(EventWindows.floorDivSql(
            "ts_ns", 86400L * 1000000000L)).as("day"))
        .agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1)
      var checked = 0
      for ((tpe, rows) <- daily) {
        val byDay = rows.map(r => r._2 -> r._3).toMap
        val d0 = byDay.keys.min
        val d1 = byDay.keys.max
        val series = (d0 to d1).map(d => d -> byDay.getOrElse(d, 0L))
        if (series.length >= 8) {
          val init = series.take(7).map(_._2)
          val l0 = init.sum.toDouble / 7.0
          var l = l0; var b = 0.0
          var s = init.map(_.toDouble - l0).toArray
          for (((d, y), i) <- series.drop(7).zipWithIndex) {
            val slot = ((d - d0) % 7).toInt
            val sv = s(slot)
            val newL = 0.5 * (y.toDouble - sv) + 0.5 * (l + b)
            val newB = 0.5 * (newL - l) + 0.5 * b
            s(slot) = 0.5 * (y.toDouble - newL) + 0.5 * sv
            l = newL; b = newB
            if (d < d1) { // the final day is still open in the stream
              assert(got((tpe, d)) === ((y, l, b)),
                s"$tpe day $d diverges")
              checked += 1
            } else assert(!got.contains((tpe, d)), s"open day $d emitted")
          }
          // chained end state == batch operator output (round 6)
          val (nD, bl, bt, sNext) = batchOut(tpe)
          assert(nD === series.length.toLong)
          assert(r6(l) === bl && r6(b) === bt)
          assert(r6(s(((d1 - d0 + 1) % 7).toInt)) === sNext)
        } else assert(!batchOut.contains(tpe))
      }
      assert(checked > 0, "degenerate fixture — nothing compared")
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 2,
        s"need >= 2 non-empty micro-batches, saw ${batches.length}")
    } finally q.stop()
  }

  test("streaming Holt-Winters: a late day fails fast; init phase " +
      "emits nothing") {
    val splitDir = java.nio.file.Files.createTempDirectory("hwlate")
      .toString
    def batch(dayN: Long) = frame(
      "event_type" -> Seq("click", "click"),
      "ts_ns" -> Seq(dayN * 86400L * 1000000000L + 1L,
        dayN * 86400L * 1000000000L + 2L))
    batch(10L).coalesce(1).write.mode("overwrite")
      .parquet(s"$splitDir/in")
    val stream = spark.readStream.schema(batch(10L).schema)
      .parquet(s"$splitDir/in")
    val q = StreamingWindows.streamingHoltWinters(stream, period = 7)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_hw_late").start()
    try {
      q.processAllAvailable()
      batch(12L).coalesce(1).write.mode("append").parquet(s"$splitDir/in")
      q.processAllAvailable()
      // days 10, 11(zero), (12 open): still init phase -> nothing out
      assert(spark.table("stream_hw_late").count() === 0L)
      batch(9L).coalesce(1).write.mode("append").parquet(s"$splitDir/in")
      val ex = intercept[Exception] { q.processAllAvailable() }
      def chain(t: Throwable): List[Throwable] =
        Option(t).map(t => t :: chain(t.getCause)).getOrElse(Nil)
      assert(chain(ex).exists(c =>
        Option(c.getMessage).exists(_.contains("in-order"))),
        s"expected the in-order contract violation, got: $ex")
    } finally q.stop()
  }

  test("streaming transition tracker: edges across micro-batches " +
      "aggregate to batch transitionMatrix exactly; ties chain by " +
      "event_id") {
    val dir = "/root/testdata/sf0.001"
    val batchEvents = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_ns"),
        col("event_id"))
    val cut = batchEvents.selectExpr("percentile_approx(ts_ns, 0.5)")
      .head().getLong(0)
    val splitDir = java.nio.file.Files.createTempDirectory("transtream")
      .toString
    batchEvents.filter(col("ts_ns") <= cut).coalesce(1)
      .write.mode("overwrite").parquet(s"$splitDir/in")
    val stream = spark.readStream.schema(batchEvents.schema)
      .parquet(s"$splitDir/in")
    val q = StreamingWindows.streamingTransitions(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_trans").start()
    try {
      q.processAllAvailable()
      batchEvents.filter(col("ts_ns") > cut).coalesce(1)
        .write.mode("append").parquet(s"$splitDir/in")
      q.processAllAvailable()
      val got = spark.table("stream_trans")
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          r.getLong(2)).toMap
      val want = graft.ops.EventAnalytics.transitionMatrix(batchEvents)
        .collect().map(r => (r.getString(0), r.getString(1)) ->
          r.getLong(2)).toMap
      assert(got === want, "streamed transition counts diverge from batch")
      assert(want.values.sum > 0, "degenerate fixture")
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 2,
        s"need >= 2 non-empty micro-batches, saw ${batches.length}")
    } finally q.stop()
  }

  test("streaming transition tracker: an out-of-order event fails fast") {
    val splitDir = java.nio.file.Files.createTempDirectory("translate")
      .toString
    def batch(ts: Long, id: Long) = frame(
      "user_id" -> Seq(1L), "event_type" -> Seq("click"),
      "ts_ns" -> Seq(ts), "event_id" -> Seq(id))
    batch(1000L, 5L).coalesce(1).write.mode("overwrite")
      .parquet(s"$splitDir/in")
    val stream = spark.readStream.schema(batch(1000L, 5L).schema)
      .parquet(s"$splitDir/in")
    val q = StreamingWindows.streamingTransitions(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_trans_late").start()
    try {
      q.processAllAvailable()
      // same ts, LOWER id -> ordered before the stored last event
      batch(1000L, 3L).coalesce(1).write.mode("append")
        .parquet(s"$splitDir/in")
      val ex = intercept[Exception] { q.processAllAvailable() }
      def chain(t: Throwable): List[Throwable] =
        Option(t).map(t => t :: chain(t.getCause)).getOrElse(Nil)
      assert(chain(ex).exists(c =>
        Option(c.getMessage).exists(_.contains("in-order"))),
        s"expected the in-order contract violation, got: $ex")
    } finally q.stop()
  }

  test("streaming CUSUM monitor: batch-trained params, closed-day " +
      "excursions across micro-batches == JVM reference fold BITWISE; " +
      "chained final step reproduces batch cusumDaily") {
    val dir = "/root/testdata/sf0.001"
    val batchEvents = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_ns"), col("event_id"))
    // train on the batch history (the deployment shape: offline moments,
    // online scoring)
    val trained = graft.ops.EventAnalytics.cusumDaily(batchEvents)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getLong(8)))).toMap
    val params = trained.map { case (t, (mu, sigma, _, _, _)) =>
      t -> ((mu, sigma)) }
    val cut = batchEvents.selectExpr("percentile_approx(ts_ns, 0.5)")
      .head().getLong(0)
    val splitDir = java.nio.file.Files.createTempDirectory("cusumstream")
      .toString
    batchEvents.filter(col("ts_ns") <= cut).coalesce(1)
      .write.mode("overwrite").parquet(s"$splitDir/in")
    val stream = spark.readStream.schema(batchEvents.schema)
      .parquet(s"$splitDir/in")
    val q = StreamingWindows.streamingCusumDaily(stream, params)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_cusum").start()
    try {
      q.processAllAvailable()
      batchEvents.filter(col("ts_ns") > cut).coalesce(1)
        .write.mode("append").parquet(s"$splitDir/in")
      q.processAllAvailable()
      val got = spark.table("stream_cusum").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5))))
        .toMap
      // JVM reference: same recurrence over the batch daily counts
      val daily = batchEvents
        .groupBy(col("event_type"),
          expr(graft.ops.EventWindows.floorDivSql(
            "ts_ns", 86400L * 1000000000L)).as("day"))
        .agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1)
      var checked = 0
      for ((tpe, rows) <- daily) {
        val (mu, sigma, spEnd, snEnd, nAlarms) = trained(tpe)
        val muk = mu + sigma / 2.0; val mku = mu - sigma / 2.0
        val h = 4.0 * sigma
        var sp = 0.0; var sn = 0.0; var alarms = 0L
        val series = rows.map(r => (r._2, r._3)).sortBy(_._1)
        for (((d, n), i) <- series.zipWithIndex) {
          sp = math.max(0.0, sp + (n.toDouble - muk))
          sn = math.max(0.0, sn + (mku - n.toDouble))
          if (sp > h || sn > h) alarms += 1
          if (i < series.length - 1) { // last day never closes
            assert(got((tpe, d)) === ((n, sp, sn, sp > h || sn > h)),
              s"$tpe day $d diverges")
            checked += 1
          } else assert(!got.contains((tpe, d)), s"open day $d emitted")
        }
        // chaining the final open day onto the streamed state must
        // reproduce the batch operator's end state exactly
        assert(sp === spEnd && sn === snEnd && alarms === nAlarms,
          s"$tpe: chained end state diverges from batch cusumDaily")
      }
      assert(checked > 0, "degenerate fixture — nothing compared")
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 2,
        s"need >= 2 non-empty micro-batches, saw ${batches.length}")
    } finally q.stop()
  }

  test("streaming CUSUM monitor: a late day fails fast; an untrained " +
      "type passes through unscored") {
    val splitDir = java.nio.file.Files.createTempDirectory("cusumlate")
      .toString
    def batch(dayN: Long, t: String) = frame(
      "event_type" -> Seq(t, t),
      "ts_ns" -> Seq(dayN * 86400L * 1000000000L + 1L,
        dayN * 86400L * 1000000000L + 2L))
    batch(10L, "click").coalesce(1).write.mode("overwrite")
      .parquet(s"$splitDir/in")
    val stream = spark.readStream.schema(batch(10L, "click").schema)
      .parquet(s"$splitDir/in")
    val q = StreamingWindows
      .streamingCusumDaily(stream, Map("click" -> ((2.0, 1.0))))
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_cusum_late").start()
    try {
      q.processAllAvailable()
      // an UNTRAINED type streaming through must not throw or emit
      batch(11L, "brand_new_type").coalesce(1).write.mode("append")
        .parquet(s"$splitDir/in")
      q.processAllAvailable()
      assert(spark.table("stream_cusum_late")
        .filter(col("event_type") === "brand_new_type").count() === 0L)
      batch(9L, "click").coalesce(1).write.mode("append")
        .parquet(s"$splitDir/in")
      val ex = intercept[Exception] { q.processAllAvailable() }
      def chain(t: Throwable): List[Throwable] =
        Option(t).map(t => t :: chain(t.getCause)).getOrElse(Nil)
      assert(chain(ex).exists(c =>
        Option(c.getMessage).exists(_.contains("in-order"))),
        s"expected the in-order contract violation, got: $ex")
    } finally q.stop()
  }

  test("streaming EWMA monitor: a micro-batch carrying a day OLDER than " +
      "the open day fails fast (enforced in-order contract), never " +
      "silently re-opens it") {
    val splitDir = java.nio.file.Files.createTempDirectory("ewmalate").toString
    def batch(dayN: Long) = frame(
      "event_type" -> Seq("click", "click"),
      "ts_ns" -> Seq(dayN * 86400L * 1000000000L + 1L,
        dayN * 86400L * 1000000000L + 2L))
    batch(10L).coalesce(1).write.mode("overwrite").parquet(s"$splitDir/in")
    val stream = spark.readStream.schema(batch(10L).schema)
      .parquet(s"$splitDir/in")
    val q = StreamingWindows.streamingEwmaDaily(stream, windowDays = 5)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_ewma_late").start()
    try {
      q.processAllAvailable()
      batch(9L).coalesce(1).write.mode("append").parquet(s"$splitDir/in")
      val ex = intercept[Exception] { q.processAllAvailable() }
      def chain(t: Throwable): List[Throwable] =
        Option(t).map(t => t :: chain(t.getCause)).getOrElse(Nil)
      assert(chain(ex).exists(c =>
        Option(c.getMessage).exists(_.contains("in-order"))),
        s"expected the in-order contract violation, got: $ex")
    } finally q.stop()
  }

  test("streaming anomaly monitor: a micro-batch carrying a window OLDER " +
      "than the open window fails fast (enforced in-order contract), " +
      "never silently re-opens it") {
    val splitDir = java.nio.file.Files.createTempDirectory("anolate").toString
    def batch(win: Long) = frame(
      "event_type" -> Seq("click", "click"),
      "ts_ns" -> Seq(win * 600L * 1000000000L + 1L,
        win * 600L * 1000000000L + 2L))
    batch(10L).coalesce(1).write.mode("overwrite").parquet(s"$splitDir/in")
    val stream = spark.readStream.schema(batch(10L).schema)
      .parquet(s"$splitDir/in")
    val q = StreamingWindows.streamingAnomalyScores(stream, widthSec = 600)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_anomaly_late").start()
    try {
      q.processAllAvailable()
      batch(9L).coalesce(1).write.mode("append").parquet(s"$splitDir/in")
      val ex = intercept[Exception] { q.processAllAvailable() }
      def chain(t: Throwable): List[Throwable] =
        Option(t).map(t => t :: chain(t.getCause)).getOrElse(Nil)
      assert(chain(ex).exists(c =>
        Option(c.getMessage).exists(_.contains("in-order"))),
        s"expected the in-order contract violation, got: $ex")
    } finally q.stop()
  }

  test("streaming SRM monitor == the same windowed computation in batch " +
      "(stateless windowed agg; two micro-batches by construction)") {
    val dir = "/root/testdata/sf0.001"
    val batchEvents = spark.read.parquet(s"$dir/events.parquet")
    val splitDir =
      java.nio.file.Files.createTempDirectory("srmstream").toString
    // split by EVENT TIME, not id parity: a watermarked window agg
    // would drop an entire second batch of old-timestamp rows as late
    val cut = "TIMESTAMP_NTZ '2024-01-16 00:00:00'"
    batchEvents.filter(expr(s"ts < $cut")).coalesce(1)
      .write.mode("overwrite").parquet(s"$splitDir/in")
    val stream = spark.readStream.schema(batchEvents.schema)
      .parquet(s"$splitDir/in")
    val q = StreamingWindows.streamingSrmMonitor(stream, nVariants = 3,
      salt = "exp1", widthSec = 6L * 3600L)
      .writeStream.outputMode("update").format("memory")
      .queryName("stream_srm").start()
    try {
      q.processAllAvailable()
      batchEvents.filter(expr(s"ts >= $cut")).coalesce(1)
        .write.mode("append").parquet(s"$splitDir/in")
      q.processAllAvailable()
      // update mode re-emits a window per batch; the final row per
      // window (max n_events) is the fully-merged state
      val got = spark.sql(
        """SELECT window_start, n_events, n_0, n_1, n_2, chi2, srm_flag
          |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
          |  ORDER BY n_events DESC) rn FROM stream_srm) WHERE rn = 1"""
          .stripMargin)
        .collect().map(_.toSeq).toSet
      val want = StreamingWindows.streamingSrmMonitor(batchEvents,
        nVariants = 3, salt = "exp1", widthSec = 6L * 3600L)
        .select(col("window_start"), col("n_events"), col("n_0"),
          col("n_1"), col("n_2"), col("chi2"), col("srm_flag"))
        .collect().map(_.toSeq).toSet
      assert(want.nonEmpty, "fixture should produce windows")
      assert(got == want, s"streaming diverges from batch: " +
        s"missing ${(want -- got).take(2)}, extra ${(got -- want).take(2)}")
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 2,
        s"need >= 2 non-empty micro-batches, saw ${batches.length}")
    } finally q.stop()
  }

  test("streaming JS drift monitor == batch windows; a window matching " +
      "the reference distribution scores js = 0") {
    val dir = "/root/testdata/sf0.001"
    val batchEvents = spark.read.parquet(s"$dir/events.parquet")
    // reference = the full corpus event_type profile (exact counts)
    val ref = batchEvents.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val splitDir =
      java.nio.file.Files.createTempDirectory("jsstream").toString
    val cut = "TIMESTAMP_NTZ '2024-01-16 00:00:00'"
    batchEvents.filter(expr(s"ts < $cut")).coalesce(1)
      .write.mode("overwrite").parquet(s"$splitDir/in")
    val stream = spark.readStream.schema(batchEvents.schema)
      .parquet(s"$splitDir/in")
    val q = StreamingWindows.streamingJsDriftMonitor(stream, ref,
      widthSec = 24L * 3600L)
      .writeStream.outputMode("update").format("memory")
      .queryName("stream_js").start()
    try {
      q.processAllAvailable()
      batchEvents.filter(expr(s"ts >= $cut")).coalesce(1)
        .write.mode("append").parquet(s"$splitDir/in")
      q.processAllAvailable()
      val got = spark.sql(
        """SELECT window_start, n_events, js, drift_flag FROM (
          |SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
          |  ORDER BY n_events DESC) rn FROM stream_js) WHERE rn = 1"""
          .stripMargin).collect().map(_.toSeq).toSet
      val want = StreamingWindows.streamingJsDriftMonitor(batchEvents,
        ref, widthSec = 24L * 3600L)
        .select(col("window_start"), col("n_events"), col("js"),
          col("drift_flag"))
        .collect().map(_.toSeq).toSet
      assert(want.nonEmpty && got == want,
        s"streaming diverges: missing ${(want -- got).take(2)}, " +
          s"extra ${(got -- want).take(2)}")
      // identical distribution -> js exactly 0 (single giant window
      // covering everything IS the reference)
      val whole = StreamingWindows.streamingJsDriftMonitor(batchEvents,
        ref, widthSec = 370L * 24L * 3600L).collect()
      assert(whole.length === 1 && whole(0).getDouble(3) === 0.0)
      assert(!whole(0).getBoolean(4))
    } finally q.stop()
  }

  test("streaming conformal gate == batch gate, and its within-rate on " +
      "the test half reproduces the calibration coverage exactly") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val model = graft.ops.Stats.conformalCalibration(docs, col("lang"),
      col("n_chars"), col("doc_id"), alpha100 = 10)
    val modelRows = model.collect()
    val modelDf = spark.createDataFrame(
      spark.sparkContext.parallelize(modelRows.toSeq), model.schema)
    val splitDir =
      java.nio.file.Files.createTempDirectory("confstream").toString
    docs.filter(col("doc_id") % 3 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$splitDir/in")
    val stream = spark.readStream.schema(docs.schema)
      .parquet(s"$splitDir/in")
    val q = StreamingWindows.streamingConformalGate(stream, modelDf)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_conf").start()
    try {
      q.processAllAvailable()
      docs.filter(col("doc_id") % 3 =!= 0).coalesce(1)
        .write.mode("append").parquet(s"$splitDir/in")
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM stream_conf")
        .collect().map(_.toSeq).toSet
      val want = StreamingWindows.streamingConformalGate(docs, modelDf)
        .collect().map(_.toSeq).toSet
      assert(want.nonEmpty && got == want,
        s"gate diverges: missing ${(want -- got).take(2)}, " +
          s"extra ${(got -- want).take(2)}")
      // the gate's within-rate over TEST rows (odd ids) == coverage
      val gateCov = spark.sql(
        """SELECT grp, round(CAST(SUM(CASE WHEN within THEN 1 ELSE 0
          |  END) AS DOUBLE) / COUNT(*), 6) c FROM stream_conf
          |WHERE doc_id % 2 = 1 GROUP BY grp""".stripMargin)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val calCov = modelRows
        .map(r => r.getString(0) -> r.getDouble(5)).toMap
      assert(gateCov == calCov.filter { case (k, _) => gateCov.contains(k) },
        s"gate within-rate $gateCov != calibration coverage $calCov")
    } finally q.stop()
  }
}
