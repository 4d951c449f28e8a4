package graft

import graft.queries.RelationalQueries
import graft.streaming.EventStream

class StreamingSpec extends SparkSuite {

  /** Stage the sf0.001 events as a single-file drop directory in a given
    * PHYSICAL ts shape, returning a glob readEvents can open. The driver
    * testdata has shipped both shapes (round 9 regenerated parquet
    * TIMESTAMP(NANOS) → TIMESTAMP(MICROS, isAdjustedToUTC=false) and the
    * streaming faces silently broke); pinning the equivalence suite on
    * both makes the next regeneration a no-op instead of a regression. */
  private def stageShape(shape: String, prefix: String, copies: Int = 1): String = {
    import org.apache.spark.sql.functions._
    val dir = tmpDir(prefix)
    val df = shape match {
      case "ntz-micros" => Tables.events(spark, sf0001) // NTZ writes as µs, isAdjustedToUTC=false
        .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampNTZType))
      case "nanos-long" => Tables.events(spark, sf0001) // the nanosAsLong read shape
        .withColumn("ts", unix_micros(col("ts")) * 1000L)
    }
    df.coalesce(1).write.parquet(s"$dir/stage")
    val part = new java.io.File(s"$dir/stage").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    for (i <- 1 to copies)
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$dir/events_$i.parquet"))
    s"$dir/events_*.parquet"
  }

  for (shape <- Seq("ntz-micros", "nanos-long")) {
    val tag = shape.replace("-", "_")

    test(s"streaming dedup [$shape]: re-delivered file emits no duplicate events") {
      // two copies of the same file = exact re-delivery of every event
      val glob = stageShape(shape, "events_dedup", copies = 2)
      val q = EventStream.dedupStream(EventStream.readEvents(spark, glob), "event_id")
        .writeStream.outputMode("append")
        .format("memory").queryName(s"dedup_out_$tag").start()
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table(s"dedup_out_$tag")
      val batchDistinct = Tables.events(spark, sf0001).count()
      assert(streamed.count() == batchDistinct) // every event exactly once
      assert(streamed.select("event_id").distinct().count() == batchDistinct)
    }

    test(s"streaming daily rollup [$shape] == batch q10 on the same bounded input") {
      val glob = stageShape(shape, "events_stream")
      val streamed = EventStream.runBounded(spark, glob, s"stream_rollup_$tag")
        .orderBy("bucket").collect()
      val batch = RelationalQueries.q10TumblingWindow(spark, sf0001).collect()
      assert(streamed.length == batch.length)
      streamed.zip(batch).foreach { case (s, b) =>
        assert(s.getTimestamp(0) == b.getTimestamp(0))
        assert(s.getLong(1) == b.getLong(1))
        assert(s.getDouble(2) == b.getDouble(2)) // exact decimal-sum → bitwise equal
      }
    }

    test(s"streaming session_window [$shape] == batch q17 sessionize on the same input") {
      val glob = stageShape(shape, "events_sessions")
      // per user: multiset of (n_events, sum_value) over sessions — the
      // session CONTENT, independent of timestamp representation
      def sessionsByUser(rows: Array[org.apache.spark.sql.Row],
          nIdx: Int, vIdx: Int, uIdx: Int): Map[Long, Seq[(Long, Double)]] =
        rows.groupBy(_.getLong(uIdx)).map { case (u, rs) =>
          u -> rs.map(r => (r.getLong(nIdx), r.getDouble(vIdx))).toSeq.sorted }
      val streamed = EventStream.runBoundedSessions(spark, glob, s"stream_sessions_$tag")
        .select("user_id", "n_events", "sum_value").collect()
      val batch = RelationalQueries.q17Sessionize(spark, sf0001)
        .select("user_id", "n_events", "sum_value").collect()
      assert(streamed.length == batch.length) // same number of sessions overall
      assert(sessionsByUser(streamed, 1, 2, 0) == sessionsByUser(batch, 1, 2, 0))
    }
  }

  test("foreachBatch KV upsert: incremental micro-batches + a replay converge to batch latest-per-key") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmpDir("events_upsert")
    val kvDir = tmpDir("kv_upsert") + "/store"
    // two half-corpora as separate micro-batches, plus a REPLAY of the
    // first half (at-least-once delivery); the commutative merge must
    // absorb all three into the same final state
    val ev = Tables.events(spark, sf0001)
    ev.where($"event_id" % 2 === 0).coalesce(1).write.parquet(s"$dir/half_a")
    ev.where($"event_id" % 2 =!= 0).coalesce(1).write.parquet(s"$dir/half_b")
    for ((src, dst) <- Seq("half_a" -> "b1.parquet", "half_b" -> "b2.parquet",
        "half_a" -> "b3_replay.parquet")) {
      val part = new java.io.File(s"$dir/$src").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$dir/$dst"))
    }
    val q = EventStream.readEvents(spark, s"$dir/*.parquet")
      .writeStream
      .foreachBatch(EventStream.kvUpsertBatch(kvDir) _)
      .option("checkpointLocation", tmpDir("kv_upsert_ckpt"))
      .start()
    q.processAllAvailable()
    q.stop()
    // decode the final store
    val got = graft.io.KvSink.decodePayload(spark,
        spark.read.format("graft.sources.KvStoreSource").option("path", kvDir).load())
      .select($"key",
        from_json($"json", org.apache.spark.sql.types.StructType.fromDDL(
          "ver BIGINT, value DOUBLE")).as("r"))
      .select($"key".cast("long").as("user_id"), $"r.ver".as("ver"), $"r.value".as("value"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    // batch ground truth: latest (ts,value) per user over the whole corpus
    val want = ev
      .groupBy($"user_id")
      .agg(max(struct(unix_micros($"ts").as("ver"), $"value")).as("m"))
      .select($"user_id", $"m.ver", $"m.value")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("kvUpsertBatch vs a foreign-process lease (VERDICT r17 item 4): " +
      "bounded wait rides out a snapshot-length hold; an over-budget " +
      "hold fails typed and the redelivery converges") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val kvDir = tmpDir("kv_contend") + "/store"
    val batch = Tables.events(spark, sf0001)
      .select($"user_id", $"ts", $"value").limit(200).localCheckpoint(true)
    // simulate ANOTHER PROCESS holding the store lease: create the lease
    // FILE directly — this JVM's withLease would be re-entrant and pass
    val leasePath = graft.io.WriterLease.leasePath(spark,
      graft.io.KvSink.leaseName(kvDir))
    val fs = leasePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(leasePath, false).close()
    try {
      // leg 1: the holder outlasts the wait budget — the micro-batch
      // fails TYPED (LeaseHeldException names the budget), nothing is
      // written, and the streaming engine's redelivery is the remedy
      withSQLConf("spark.graft.lease.waitMs" -> "600") {
        val e = intercept[graft.io.LeaseHeldException] {
          EventStream.kvUpsertBatch(kvDir)(batch, 0L)
        }
        assert(e.getMessage.contains("bounded retry"))
      }
      assert(!fs.exists(new org.apache.hadoop.fs.Path(kvDir)),
        "a refused micro-batch must not have written the store")
      // leg 2: the holder releases mid-wait (a snapshot finishing) —
      // the SAME batch, redelivered, waits it out and lands
      val releaser = new Thread(() => {
        Thread.sleep(1200); fs.delete(leasePath, false); () })
      releaser.start()
      withSQLConf("spark.graft.lease.waitMs" -> "30000") {
        EventStream.kvUpsertBatch(kvDir)(batch, 0L) // the redelivery
      }
      releaser.join()
      val got = graft.io.KvSink.decodePayload(spark,
          spark.read.format("graft.sources.KvStoreSource")
            .option("path", kvDir).load())
        .select($"key").count()
      assert(got == batch.select($"user_id").distinct().count(),
        "the waited-out batch must converge to latest-per-key")
    } finally fs.delete(leasePath, false)
  }

  test("streaming as-of (flatMapGroupsWithState) == batch q113 on the same bounded input") {
    // in-order delivery (two time-split halves, each a micro-batch):
    // the per-user purchase state must reproduce the batch window exactly
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tmpDir("events_asof")
    val ev = Tables.events(spark, sf0001)
    val cut = ev.select(expr("percentile_approx(unix_micros(ts), 0.5)"))
      .collect()(0).getLong(0)
    ev.where(unix_micros($"ts") <= cut).coalesce(1).write.parquet(s"$dir/h1")
    ev.where(unix_micros($"ts") > cut).coalesce(1).write.parquet(s"$dir/h2")
    for ((src, dst) <- Seq("h1" -> "b1.parquet", "h2" -> "b2.parquet")) {
      val part = new java.io.File(s"$dir/$src").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$dir/$dst"))
    }
    def key(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long, Long, Long)] =
      rows.map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSet
    val streamed = graft.streaming.AsofStream
      .runBounded(spark, s"$dir/b*.parquet", "stream_asof")
      .select("user_id", "click_id", "purchase_id", "purchase_value", "staleness_us")
      .collect()
    val batch = graft.queries.RelationalQueries.q113AsofJoin(spark, sf0001)
      .collect()
    assert(streamed.length == batch.length)
    assert(key(streamed) == key(batch))
  }

  test("streaming as-of survives a restart: state recovers from the checkpoint") {
    // run on half 1, STOP (simulated crash/redeploy), drop half 2 into
    // the dir, restart on the SAME checkpoint: the second run must emit
    // ONLY half-2 clicks, matched against purchase state recovered from
    // half 1 — identical to the batch answer for those clicks
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tmpDir("events_asof_resume")
    val ckpt = tmpDir("asof_resume_ckpt")
    val ev = Tables.events(spark, sf0001)
    val cut = ev.select(expr("percentile_approx(unix_micros(ts), 0.5)"))
      .collect()(0).getLong(0)
    ev.where(unix_micros($"ts") <= cut).coalesce(1).write.parquet(s"$dir/h1")
    ev.where(unix_micros($"ts") > cut).coalesce(1).write.parquet(s"$dir/h2")
    def drop(src: String, dst: String): Unit = {
      val part = new java.io.File(s"$dir/$src").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$dir/$dst"))
    }
    val outDir = tmpDir("asof_resume_out") + "/out"
    val sel = Seq("user_id", "click_id", "purchase_id", "purchase_value",
      "staleness_us")
    drop("h1", "b1.parquet")
    val firstRun = graft.streaming.AsofStream
      .runBoundedResumable(spark, s"$dir/b*.parquet", outDir, ckpt)
      .selectExpr(sel: _*).collect()
    val h1Clicks = ev
      .where($"event_type" === "click" && unix_micros($"ts") <= cut)
      .select($"event_id").collect().map(_.getLong(0)).toSet
    assert(firstRun.map(_.getLong(1)).toSet == h1Clicks)
    drop("h2", "b2.parquet")
    val all = graft.streaming.AsofStream
      .runBoundedResumable(spark, s"$dir/b*.parquet", outDir, ckpt)
      .selectExpr(sel: _*).collect()
    val h2Clicks = ev
      .where($"event_type" === "click" && unix_micros($"ts") > cut)
      .select($"event_id").collect().map(_.getLong(0)).toSet
    assert(all.map(_.getLong(1)).toSet == h1Clicks ++ h2Clicks,
      "restart must process exactly the new file (offsets recovered), once")
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSet
    val resumed = all.filter(r => h2Clicks.contains(r.getLong(1)))
    val batch = graft.queries.RelationalQueries.q113AsofJoin(spark, sf0001)
      .collect().filter(r => h2Clicks.contains(r.getLong(1)))
    assert(key(resumed) == key(batch),
      "half-2 matches must use purchase state recovered from half 1")
  }

  test("streaming heavy hitters: MG bound holds vs batch truth; coverage guaranteed") {
    import org.apache.spark.sql.functions._
    import graft.streaming.HeavyHittersStream
    val glob = stageShape("ntz-micros", "hh_stream")
    val cap = 32 // small capacity → evictions actually happen
    val buckets = HeavyHittersStream.DefaultBuckets
    val sketch = HeavyHittersStream
      .runBounded(spark, glob, cap, "hh_out").collect()
      .map(r => (r.getInt(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(sketch.nonEmpty)
    // batch truth with the IDENTICAL bucketing (plain batch read — only
    // user_id is touched, so the ts physical shape is irrelevant here)
    val truth = spark.read.parquet(glob)
      .select(pmod(hash(col("user_id")), lit(buckets)).cast("int").as("bucket"),
        col("user_id").cast("string").as("item"))
      .groupBy(col("bucket"), col("item")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    val bucketN = truth.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    // every sketched item satisfies est ≤ true ≤ est + dec
    sketch.foreach { case ((b, item), (est, dec)) =>
      val t = truth((b, item))
      assert(est <= t && t <= est + dec,
        s"MG bound violated for bucket $b item $item: est=$est dec=$dec true=$t")
    }
    // coverage: true frequency > N_bucket/(cap+1) ⇒ item IS in the sketch
    truth.foreach { case ((b, item), t) =>
      if (t > bucketN(b) / (cap + 1))
        assert(sketch.contains((b, item)),
          s"guaranteed heavy item missing: bucket $b item $item true=$t")
    }
    // the decrement mass respects its own bound
    sketch.keys.map(_._1).toSet.foreach { (b: Int) =>
      val dec = sketch.collectFirst { case ((`b`, _), (_, d)) => d }.get
      assert(dec <= bucketN(b) / (cap + 1),
        s"dec bound violated in bucket $b: $dec > ${bucketN(b)} / ${cap + 1}")
    }
  }

  test("streaming EWMA anomalies (flatMapGroupsWithState) == batch q137 rollup") {
    // two time-split halves as micro-batches (in-order per-user delivery,
    // the face's documented contract); a user whose history spans the cut
    // exercises the cross-batch ring state
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tmpDir("events_ewma")
    val ev = Tables.events(spark, sf0001)
    val cut = ev.select(expr("percentile_approx(unix_micros(ts), 0.5)"))
      .collect()(0).getLong(0)
    ev.where(unix_micros($"ts") <= cut).coalesce(1).write.parquet(s"$dir/h1")
    ev.where(unix_micros($"ts") > cut).coalesce(1).write.parquet(s"$dir/h2")
    for ((src, dst) <- Seq("h1" -> "b1.parquet", "h2" -> "b2.parquet")) {
      val part = new java.io.File(s"$dir/$src").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$dir/$dst"))
    }
    val streamed = graft.streaming.AnomalyStream
      .runBounded(spark, s"$dir/b*.parquet", "stream_ewma")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum($"scored".cast("long")).as("n_scored"),
        sum($"anomaly".cast("long")).as("n_anomalies"),
        min(when($"anomaly", struct($"tus".as("t"), $"event_id".as("id"))))
          .getField("id").as("first_anomaly_id"))
      .orderBy($"user_id").collect()
    val batch = RelationalQueries.q137EwmaAnomaly(spark, sf0001).collect()
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSeq
    assert(batch.nonEmpty && batch.map(_.getLong(3)).sum > 0,
      "fixture must contain anomalies")
    assert(key(streamed) == key(batch))
  }

  test("stream-stream interval join == the same join run as a batch self-join") {
    val dir = tmpDir("events_attr")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events_attr.parquet"))
    def pairs(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long)] =
      rows.map(r => (r.getLong(1), r.getLong(2))).toSet // (purchase_id, click_id)
    val streamed = EventStream.runBoundedAttribution(spark, dir, "stream_attr")
      .collect()
    val batch = EventStream.attributionJoin(Tables.events(spark, sf0001))
      .collect()
    assert(batch.nonEmpty, "fixture must produce attribution pairs")
    assert(pairs(streamed) == pairs(batch))
  }

  test("per-row minhash signature == the batch exploded-path signature") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.queries.DedupQueries
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", DedupQueries.shingles($"text").as("shingles"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"doc_id").collect().map(_.toSeq).toSeq
    assert(rows(DedupQueries.perRowSignature(spark, docs)) ==
      rows(DedupQueries.minhashSignatures(docs)
        .select(col("doc_id") +:
          (0 until DedupQueries.NumHashes).map(j => col(s"mh_$j")): _*)))
  }

  test("streaming near-dup gate == the batch bucket-min dual; catches q26's pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.queries.DedupQueries
    val dir = tmpDir("docs_gate")
    // two drop files split by doc_id, consumed one per micro-batch —
    // the cross-batch state path is exercised, arrival follows doc_id
    val docs = Tables.documents(spark, sf0001).select($"doc_id", $"text")
    val mid = 250L
    docs.where($"doc_id" < mid).coalesce(1).write.parquet(s"$dir/h1")
    docs.where($"doc_id" >= mid).coalesce(1).write.parquet(s"$dir/h2")
    for ((src, dst) <- Seq("h1" -> "d1.parquet", "h2" -> "d2.parquet")) {
      val part = new java.io.File(s"$dir/$src").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$dir/$dst"))
    }
    val streamed = graft.streaming.DedupStream
      .runBounded(spark, s"$dir/d*.parquet", "stream_gate",
        maxFilesPerTrigger = Some(1))
      .collect()
    // batch dual = q151, the ORACLE-CHECKED admission gate (round 13):
    // under ordered arrival the stream must reproduce it row for row,
    // which transitively hash-checks the stream face against DuckDB
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3))).toSeq
    val dual = DedupQueries.q151AdmissionGate(spark, sf0001).collect()
    assert(dual.exists(_.getLong(1) > 0), "fixture must contain band collisions")
    assert(key(streamed.sortBy(_.getLong(0))) == key(dual))
    // every q26 VERIFIED pair shares a band, so its later member must be
    // flagged by the gate (banding recall 1.0 for caught pairs)
    val cands = streamed.filter(_.getBoolean(3)).map(_.getLong(0)).toSet
    val pairs26 = DedupQueries.q26MinhashPairs(spark, sf0001).collect()
    assert(pairs26.nonEmpty)
    pairs26.foreach { r =>
      assert(cands.contains(math.max(r.getLong(0), r.getLong(1))),
        s"pair (${r.getLong(0)}, ${r.getLong(1)}) must flag its later member")
    }
  }

  test("streaming adaptive gate == the q157 prefix-calibrated batch dual; " +
      "admit fraction converges on q149's keep rate per source") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.queries.TextQueries
    val dir = tmpDir("docs_agate")
    // two drop files split by doc_id, one per micro-batch: the
    // cross-batch per-source state path is exercised, arrival = doc_id
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"source", $"n_chars")
    val mid = 250L
    docs.where($"doc_id" < mid).coalesce(1).write.parquet(s"$dir/h1")
    docs.where($"doc_id" >= mid).coalesce(1).write.parquet(s"$dir/h2")
    for ((src, dst) <- Seq("h1" -> "d1.parquet", "h2" -> "d2.parquet")) {
      val part = new java.io.File(s"$dir/$src").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$dir/$dst"))
    }
    val streamed = graft.streaming.GateStream
      .runBounded(spark, s"$dir/d*.parquet", "adaptive_gate",
        maxFilesPerTrigger = Some(1))
      .collect()
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSeq
    // batch dual = q157, the ORACLE-CHECKED prefix calibration: under
    // ordered arrival the stream must reproduce it row for row, which
    // transitively hash-checks the stateful face against DuckDB
    val dual = TextQueries.q157GateStreamDual(spark, sf0001).collect()
    assert(key(streamed) == key(dual))
    // the gate must actually drop someone AND keep >= 3/4 per source
    // once calibrated: each source's FINAL prefix is the full source,
    // so its last-doc state reproduces q149's threshold — check the
    // aggregate admit rate stays in q149's keep band
    val bySrc = streamed.groupBy(_.getString(1))
    assert(streamed.exists(!_.getBoolean(4)), "fixture must reject someone")
    // tight AGGREGATE bound (ADVICE r14): across all 500 docs the admit
    // rate concentrates hard around the 75% band (sigma ~2%), so a
    // substantially miscalibrated gate cannot pass; the per-source bound
    // below stays looser because each source holds only 25 docs — its
    // admit count legitimately swings +-4 docs (~0.6-0.9) on prefix
    // discretization alone, NOT on calibration quality
    val aggAdmit = streamed.count(_.getBoolean(4)).toDouble / streamed.length
    assert(aggAdmit > 0.7 && aggAdmit < 0.9,
      s"aggregate admit rate must sit in q149's keep band (got $aggAdmit)")
    bySrc.foreach { case (src, rows) =>
      val admitted = rows.count(_.getBoolean(4)).toDouble
      assert(admitted / rows.length > 0.5,
        s"$src: online calibration collapsed far below the 75% keep " +
          s"rate (got ${admitted / rows.length} over only ${rows.length} " +
          "docs — loose bound, small-n prefix noise)")
    }
  }

  test("near-dup gate: cross-batch OUT-OF-ORDER pair is still caught") {
    // review finding r12 (medium): a smaller doc_id arriving in a LATER
    // micro-batch than its larger bucket-mate was silently missed by the
    // old `minSeen < doc_id` emit test. The occupied-bucket rule must
    // catch the pair and report the bucket-mate seen so far as the match.
    import spark.implicits._
    val dir = tmpDir("docs_ooo")
    val t = (1 to 20).map(i => s"tok$i").mkString(" ")
    def dropOne(row: (Long, String), name: String, mtime: Long): Unit = {
      val stage = s"$dir/stage_$name"
      Seq(row).toDF("doc_id", "text").coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$dir/$name")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(mtime) // FileStreamSource orders by mtime
    }
    val t0 = System.currentTimeMillis() - 60000
    dropOne((10L, t), "a1.parquet", t0)         // larger id arrives FIRST
    dropOne((5L, t), "a2.parquet", t0 + 30000)  // smaller id, later batch
    val out = graft.streaming.DedupStream
      .runBounded(spark, s"$dir/a*.parquet", "stream_gate_ooo",
        maxFilesPerTrigger = Some(1))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2),
          r.getBoolean(3)))).toMap
    val nb = graft.queries.DedupQueries.NumBands.toLong
    // doc 10 saw empty buckets; doc 5 found every band occupied by 10
    assert(out == Map(10L -> ((0L, -1L, false)), 5L -> ((nb, 10L, true))))
  }

  test("heavy-hitters stream: TTL expiry reclaims an idle bucket's sketch") {
    import graft.streaming.HeavyHittersStream._
    import org.apache.spark.sql.streaming.TestGroupState
    import org.apache.spark.api.java.Optional
    // live state + items: fold runs and the timeout is re-armed
    val live = TestGroupState.create[SketchState](
      Optional.of(SketchState(Map("u1" -> 3L), 0L, 3L)),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = false)
    val out = graft.streaming.HeavyHittersStream.foldWithTtl(4)(
      0, Iterator(In(0, "u2")), live, "30 days").toSeq
    assert(out.map(h => h.item -> h.est).toMap == Map("u1" -> 3L, "u2" -> 1L))
    assert(live.getTimeoutTimestampMs.isPresent,
      "surviving state must re-arm its processing-time timeout")
    // timed-out state: sketch removed, nothing emitted
    val dead = TestGroupState.create[SketchState](
      Optional.of(SketchState(Map("u1" -> 3L), 1L, 4L)),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = true)
    val gone = graft.streaming.HeavyHittersStream.foldWithTtl(4)(
      0, Iterator.empty, dead, "30 days").toSeq
    assert(gone.isEmpty && dead.isRemoved,
      "a timed-out bucket must drop its sketch and emit nothing")
  }

  test("gate stream: TTL expiry reclaims an idle source's domain; " +
      "surviving state re-arms and the admit rule includes the new doc") {
    // (drives GateStream.fold — the EXACT gate; the unified adaptive
    // face's own TTL path has its own spec below. This test was
    // mislabeled "adaptive gate stream" through r16, which hid that
    // AdaptiveGateStream.fold's timeout branch was untested.)
    import graft.streaming.GateStream._
    import org.apache.spark.sql.streaming.TestGroupState
    import org.apache.spark.api.java.Optional
    // live state {score 5 → 4 docs}; a score-1 doc arrives: n = 5,
    // cum_le(1) = 1, GateDen·1 = 4 < 5 ⇒ rejected (bottom quartile)
    val live = TestGroupState.create[SourceState](
      Optional.of(SourceState(Map(5L -> 4L), 4L)),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = false)
    val out = graft.streaming.GateStream.fold("s1",
      Iterator(DocRow(9L, "s1", 1L)), live, Some("30 days")).toSeq
    assert(out == Seq(Verdict(9L, "s1", 1L, 5L, false)))
    assert(live.getTimeoutTimestampMs.isPresent,
      "surviving state must re-arm its processing-time timeout")
    // timed-out state: domain removed, nothing emitted
    val dead = TestGroupState.create[SourceState](
      Optional.of(SourceState(Map(5L -> 4L), 4L)),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = true)
    val gone = graft.streaming.GateStream.fold("s1",
      Iterator.empty, dead, Some("30 days")).toSeq
    assert(gone.isEmpty && dead.isRemoved,
      "a timed-out source must drop its domain and emit nothing")
  }

  test("GK gate stream: TTL expiry reclaims an idle source's sketch; " +
      "surviving state re-arms and the sketch carries across the fold") {
    import graft.streaming.GkGateStream
    import graft.streaming.GkGateStream._
    import org.apache.spark.sql.streaming.TestGroupState
    import org.apache.spark.api.java.Optional
    // live sketch over 4 exact tuples (n < 50 keeps GK exact): scores
    // 2,4,6,8; a score-1 doc arrives: n = 5, target rank ⌈5/4⌉ = 2 with
    // eps 0 ⇒ thr = the rank-2 value = 2.0; 1.0 < 2.0 ⇒ rejected
    val ts = List(GkTuple(2.0, 1, 0), GkTuple(4.0, 1, 0),
      GkTuple(6.0, 1, 0), GkTuple(8.0, 1, 0))
    val live = TestGroupState.create[GkState](
      Optional.of(GkState(ts, 4L, 0L)),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = false)
    val out = GkGateStream.fold("s1",
      Iterator(DocRow(9L, "s1", 1.0)), live, Some("30 days")).toSeq
    assert(out == Seq(Verdict(9L, "s1", 1.0, 5L, 2.0, false)))
    assert(live.getTimeoutTimestampMs.isPresent,
      "surviving state must re-arm its processing-time timeout")
    assert(live.get.n == 5L && live.get.ts.exists(_.v == 1.0),
      "the sketch must carry the inserted score")
    // timed-out state: sketch removed, nothing emitted
    val dead = TestGroupState.create[GkState](
      Optional.of(GkState(ts, 4L, 0L)),
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = true)
    val gone = GkGateStream.fold("s1",
      Iterator.empty, dead, Some("30 days")).toSeq
    assert(gone.isEmpty && dead.isRemoved,
      "a timed-out source must drop its sketch and emit nothing")
  }

  test("adaptive gate stream: TTL expiry reclaims an idle source's state " +
      "in BOTH modes; surviving state re-arms (VERDICT r16 item 5)") {
    import graft.streaming.{AdaptiveGateStream, GateStream, GkGateStream}
    import AdaptiveGateStream.{AdState, DocRow}
    import org.apache.spark.sql.streaming.TestGroupState
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import org.apache.spark.api.java.Optional
    // live EXACT-mode state {score 5 → 4 docs}; a score-1 doc arrives:
    // n = 5, cum_le(1) = 1, GateDen·1 = 4 < 5 ⇒ rejected, still exact
    // (distinct·2 = 4 ≤ 5 and n < MinN), and the timeout re-arms
    val exact = AdState(Some(GateStream.SourceState(Map(5L -> 4L), 4L)), None)
    val live = TestGroupState.create[AdState](
      Optional.of(exact), GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = false)
    val out = AdaptiveGateStream.fold("s1",
      Iterator(DocRow(9L, "s1", 1L)), live, Some("30 days")).toSeq
    assert(out.map(v => (v.doc_id, v.n_seen, v.is_sketch, v.admit)) ==
      Seq((9L, 5L, false, false)))
    assert(live.getTimeoutTimestampMs.isPresent,
      "surviving state must re-arm its processing-time timeout")
    // timed-out EXACT-mode state: removed, nothing emitted
    val deadExact = TestGroupState.create[AdState](
      Optional.of(exact), GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = true)
    val goneE = AdaptiveGateStream.fold("s1",
      Iterator.empty, deadExact, Some("30 days")).toSeq
    assert(goneE.isEmpty && deadExact.isRemoved,
      "a timed-out exact-mode source must drop its domain and emit nothing")
    // timed-out SKETCH-mode state: same branch, pinned for the mode the
    // 30-day idle source is most likely in (it migrated long ago)
    val sketch = AdState(None, Some(GkGateStream.GkState(
      List(GkGateStream.GkTuple(2.0, 1, 0), GkGateStream.GkTuple(8.0, 1, 0)),
      2L, 0L)))
    val deadSketch = TestGroupState.create[AdState](
      Optional.of(sketch), GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = Optional.empty[Long](), hasTimedOut = true)
    val goneS = AdaptiveGateStream.fold("s1",
      Iterator.empty, deadSketch, Some("30 days")).toSeq
    assert(goneS.isEmpty && deadSketch.isRemoved,
      "a timed-out sketch-mode source must drop its sketch and emit nothing")
  }

  test("adaptive gate stream: migration is one-way BY DESIGN — a migrated " +
      "source stays sketched under fully re-densified input, and its " +
      "decisions stay inside the GK rank band (VERDICT r16 missing #1)") {
    import graft.streaming.{AdaptiveGateStream, GkGateStream}
    import AdaptiveGateStream.{AdState, DocRow}
    // drive a source through the crossover with effectively-unique
    // scores, then collapse the distribution to a 3-value domain (the
    // upstream-quantizer-change scenario) for 10× more rows than the
    // unique prefix — if any demotion path existed, this is exactly the
    // input that would trigger it
    val uniquePrefix = (0 until 100).map(i =>
      DocRow(i.toLong, "s", i.toLong * 7919L + 13L))
    val densified = (0 until 1000).map(i =>
      DocRow(100L + i, "s", (i % 3).toLong))
    val (out1, st1) = AdaptiveGateStream.adaptiveFold(
      AdState(None, None), uniquePrefix)
    assert(st1.gk.isDefined && st1.dom.isEmpty,
      "the unique prefix must migrate the source to sketch mode")
    assert(out1.exists(_.is_sketch) && !out1.head.is_sketch)
    val (out2, st2) = AdaptiveGateStream.adaptiveFold(st1, densified)
    assert(st2.gk.isDefined && st2.dom.isEmpty,
      "re-densified input must NOT demote a migrated source (one-way " +
        "contract: a compressed GK summary cannot reconstruct the domain)")
    assert(out2.forall(_.is_sketch), "every post-migration verdict is sketch-mode")
    // sketch state stays sketch-SIZED under the dense flood (the point
    // of the εn trade the source keeps paying): the O(Acc·log n)
    // envelope (= Acc·⌈log2 1100⌉ = 1100 here — same order as the
    // history at this tiny n, so pin the practical bound the 100k-row
    // GK spec below uses scaled to n: a constant fraction of Acc·log n,
    // nowhere near the history it replaced had the dense rows kept
    // accumulating an exact domain PLUS per-row growth)
    val bound = GkGateStream.Acc * (64 - java.lang.Long
      .numberOfLeadingZeros(uniquePrefix.length + densified.length)) / 2
    assert(st2.gk.get.ts.length <= bound,
      s"sketch grew to ${st2.gk.get.ts.length} tuples (bound $bound)")
    // and the rank guarantee stays honest at the seam and after: each
    // admit decision matches the exact prefix rank to within the GK band
    val all = uniquePrefix ++ densified
    val scoresSoFar = collection.mutable.ArrayBuffer[Long]()
    all.zip(out1 ++ out2).foreach { case (d, v) =>
      scoresSoFar += d.score
      if (v.is_sketch) {
        val n = scoresSoFar.length.toLong
        val cut = (n * GkGateStream.QuantilePct + 99) / 100
        val cntLe = scoresSoFar.count(_ <= d.score).toLong
        // a decision may flip vs exact only within the band
        val exactAdmit = graft.queries.TextQueries.GateDen * cntLe >= n
        if (v.admit != exactAdmit)
          assert(math.abs(cntLe - cut) <= n / GkGateStream.Acc + 1,
            s"doc ${d.doc_id}: flip outside the GK band (cntLe=$cntLe cut=$cut n=$n)")
      }
    }
  }

  test("near-dup gate: shingle-less docs are admitted ungated, not cross-flagged") {
    import spark.implicits._
    val dir = tmpDir("docs_short")
    // two unrelated < 3-token docs would share the degenerate all-null
    // band bucket if banded (review finding); a true duplicate pair
    // proves the gate still fires
    val t = (1 to 20).map(i => s"tok$i").mkString(" ")
    Seq((1L, "hello world"), (2L, "buy now"), (3L, t), (4L, t))
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/stage")
    val part = new java.io.File(s"$dir/stage").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$dir/docs.parquet"))
    val out = graft.streaming.DedupStream
      .runBounded(spark, s"$dir/docs*.parquet", "stream_gate_short")
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out == Map(1L -> false, 2L -> false, 3L -> false, 4L -> true))
  }

  test("GateStream's Fenwick admit fold is bit-identical to the linear " +
      "reference on a high-cardinality domain, including cross-batch " +
      "state carry, and stays fast where the linear fold melts") {
    import graft.streaming.GateStream
    // deterministic high-cardinality fixture: 40k docs, ~20k distinct
    // scores, folded in two chained batches (state carries across)
    def mkDocs(from: Long, cnt: Int): Seq[GateStream.DocRow] =
      (0 until cnt).map { i =>
        val id = from + i
        GateStream.DocRow(id, "s", (id * 2654435761L) % 20011L)
      }
    val b1 = mkDocs(0L, 20000)
    val b2 = mkDocs(20000L, 20000)
    val (o1l, d1l, n1l) = GateStream.admitFoldLinear(Map.empty, 0L, b1)
    val (o1f, d1f, n1f) = GateStream.admitFold(Map.empty, 0L, b1)
    assert(o1l == o1f && d1l == d1f && n1l == n1f)
    val t0l = System.nanoTime()
    val (o2l, d2l, n2l) = GateStream.admitFoldLinear(d1l, n1l, b2)
    val linMs = (System.nanoTime() - t0l) / 1e6
    val t0 = System.nanoTime()
    val (o2f, d2f, n2f) = GateStream.admitFold(d1f, n1f, b2)
    val fastMs = (System.nanoTime() - t0) / 1e6
    assert(o2l == o2f && d2l == d2f && n2l == n2f)
    assert(o2f.exists(!_.admit) && o2f.exists(_.admit))
    // the adaptive gate's exact phase runs the same Fenwick fold: on a
    // domain too dense to migrate (≤ 31 distinct scores) it must match
    // the linear reference verdict for verdict and carry the same state
    locally {
      import graft.streaming.AdaptiveGateStream
      import AdaptiveGateStream.AdState
      val Seq(b1d, b2d) = Seq(0L, 5000L).map(from =>
        mkDocs(from, 5000).map(r => r.copy(score = r.score % 31L)))
      def adRows(rs: Seq[GateStream.DocRow]) =
        rs.map(r => AdaptiveGateStream.DocRow(r.doc_id, r.source, r.score))
      val (dl1, ddl1, dnl1) = GateStream.admitFoldLinear(Map.empty, 0L, b1d)
      val (dl2, ddl2, dnl2) = GateStream.admitFoldLinear(ddl1, dnl1, b2d)
      val (da1, sa1) = AdaptiveGateStream.adaptiveFold(AdState(None, None), adRows(b1d))
      val (da2, sa2) = AdaptiveGateStream.adaptiveFold(sa1, adRows(b2d))
      for ((lin, ad) <- Seq(dl1 -> da1, dl2 -> da2)) {
        assert(ad.forall(!_.is_sketch))
        assert(lin.map(v => (v.doc_id, v.score, v.n_seen, v.admit)) ==
          ad.map(v => (v.doc_id, v.score, v.n_seen, v.admit)))
      }
      assert(sa2.dom.contains(GateStream.SourceState(ddl2, dnl2)))
      assert(dl2.exists(!_.admit) && dl2.exists(_.admit))
    }
    // asymptotic pin, not a wall-clock one (a loaded host must not
    // flake it): 20k docs × 20k domain is ~4·10⁸ adds linear vs ~3·10⁶
    // log-ops Fenwick — same-process ratio, generous margin
    assert(fastMs * 5 < linMs,
      s"Fenwick fold ($fastMs ms) must be well under the linear " +
        s"reference ($linMs ms)")
  }

  test("GK-state streaming gate == the same fold run as a batch (across " +
      "micro-batch boundaries), anchored to q160's oracle-checked audit; " +
      "state stays sketch-sized on a high-cardinality score stream") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.GkGateStream
    val dir = tmpDir("docs_gkgate")
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"source",
        ($"n_chars".cast("double") / size(split($"text", " ")).cast("double"))
          .as("score"))
      .localCheckpoint(true)
    // two drop files split by doc_id → two micro-batches: the sketch
    // state must survive the boundary
    val mid = 250L
    docs.where($"doc_id" < mid).coalesce(1).write.parquet(s"$dir/h1")
    docs.where($"doc_id" >= mid).coalesce(1).write.parquet(s"$dir/h2")
    for ((src, dst) <- Seq("h1" -> "d1.parquet", "h2" -> "d2.parquet")) {
      val part = new java.io.File(s"$dir/$src").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$dir/$dst"))
    }
    val streamed = GkGateStream
      .runBounded(spark, s"$dir/d*.parquet", "gk_gate",
        maxFilesPerTrigger = Some(1))
      .collect()
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4), r.getBoolean(5))).toSeq
    // batch ≡ stream on EVERY column including the sketch threshold and
    // the admit bit: the same fold, state carried across two micro-
    // batches vs one group invocation
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val batch = GkGateStream.verdicts(docs, ttl = None)
      .toDF().orderBy($"doc_id").collect()
    assert(key(streamed) == key(batch))
    // ... and q160 (oracle-green) audits this very fold's thresholds
    // against exact prefix ranks, so the stream is transitively
    // DuckDB-anchored; sanity: its gate_ok verdicts are uniformly true
    val audited = graft.queries.TextQueries
      .q160GkGateStreamDual(spark, sf0001).collect()
    assert(audited.length == streamed.length)
    assert(audited.forall(_.getBoolean(5)), "rank guarantee must hold")
    // someone must actually be rejected, and the aggregate admit rate
    // must sit near the 75% keep band (500 docs: tight concentration)
    assert(streamed.exists(!_.getBoolean(5)))
    val admitRate = streamed.count(_.getBoolean(5)).toDouble / streamed.length
    assert(admitRate > 0.7 && admitRate < 0.9, s"admit rate $admitRate")
    // sketch-sized state: insert a 100k-row single-source adversarial
    // stream of DISTINCT scores directly into the fold's summary — the
    // summary must stay O(Acc·log n), nowhere near row- or domain-sized
    var st = GkGateStream.GkState(Nil, 0L, 0L)
    (1 to 100000).foreach { i =>
      st = GkGateStream.insert(st, (i * 2654435761L % 1000003L).toDouble)
    }
    assert(st.ts.length < 2000,
      s"GK summary must stay sketch-sized, got ${st.ts.length} tuples")
    // and its quantile still honors the rank guarantee on that stream
    val thr = GkGateStream.quantile(st, GkGateStream.QuantilePct)
    val exact = (1 to 100000)
      .map(i => (i * 2654435761L % 1000003L).toDouble).sorted
    val rank = exact.count(_ <= thr)
    val target = (100000 * GkGateStream.QuantilePct + 99) / 100
    assert(math.abs(rank - target) <= 100000 / GkGateStream.Acc + 1,
      s"rank $rank vs target $target")
  }

  test("adaptive gate (VERDICT r15 item 5): exact state until the density " +
      "crossover, GK sketch after; migration is per-doc (batch == stream " +
      "across boundaries), admit-decision-compatible at the crossover, and " +
      "state stays min(domain, sketch)-sized") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.{AdaptiveGateStream, GateStream, GkGateStream}
    import AdaptiveGateStream.{AdState, DocRow}
    val dir = tmpDir("docs_adgate")
    // the q168 two-regime frame: dense (32-value domain) + unique scores
    val docs = Tables.documents(spark, sf0001).select($"doc_id",
      when(length($"source") === 4, lit("dense"))
        .otherwise(lit("unique")).as("source"),
      when(length($"source") === 4, $"n_chars" % 32L)
        .otherwise($"n_chars" * 1024L + $"doc_id" % 1024L)
        .cast("long").as("score")).localCheckpoint(true)
    val mid = 250L
    docs.where($"doc_id" < mid).coalesce(1).write.parquet(s"$dir/h1")
    docs.where($"doc_id" >= mid).coalesce(1).write.parquet(s"$dir/h2")
    for ((src, dst) <- Seq("h1" -> "d1.parquet", "h2" -> "d2.parquet")) {
      val part = new java.io.File(s"$dir/$src").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$dir/$dst"))
    }
    val streamed = AdaptiveGateStream
      .runBounded(spark, s"$dir/d*.parquet", "ad_gate",
        maxFilesPerTrigger = Some(1)).collect()
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4), r.getBoolean(6))).toSeq
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val batch = AdaptiveGateStream.verdicts(docs, ttl = None)
      .toDF().select($"doc_id", $"source", $"score", $"n_seen",
        $"is_sketch", $"thr", $"admit").orderBy($"doc_id").collect()
    // per-doc migration ⇒ identical verdicts whatever the batching
    assert(key(streamed) == key(batch))

    // dense source: NEVER migrates, decisions bit-identical to the
    // pure exact gate's fold over the same rows
    val dense = batch.filter(_.getString(1) == "dense")
    assert(dense.forall(!_.getBoolean(4)), "dense source must stay exact")
    val denseRows = docs.where($"source" === "dense").orderBy($"doc_id")
      .collect().map(r => GateStream.DocRow(r.getLong(0), "dense", r.getLong(2)))
    val (exactDense, _, _) = GateStream.admitFoldLinear(Map.empty, 0L, denseRows)
    assert(dense.map(r => (r.getLong(0), r.getBoolean(6))).toSeq ==
      exactDense.map(v => (v.doc_id, v.admit)))

    // unique source: migrates exactly once, at the deterministic
    // crossover (first doc AFTER MinN rows of effectively-unique
    // scores), and never un-migrates
    val uniq = batch.filter(_.getString(1) == "unique")
    val firstSketch = uniq.indexWhere(_.getBoolean(4))
    assert(firstSketch >= 0, "the unique source must migrate")
    assert(uniq(firstSketch).getLong(3) == AdaptiveGateStream.MinN + 1,
      s"crossover at n_seen=${uniq(firstSketch).getLong(3)}")
    assert(uniq.drop(firstSketch).forall(_.getBoolean(4)))
    // pre-crossover: bit-identical to the exact fold; at + after the
    // crossover: decisions may differ from exact ONLY inside the GK
    // rank band around the cut (admit-decision compatibility)
    val uniqRows = docs.where($"source" === "unique").orderBy($"doc_id")
      .collect().map(r => GateStream.DocRow(r.getLong(0), "unique", r.getLong(2)))
    val (exactUniq, _, _) = GateStream.admitFoldLinear(Map.empty, 0L, uniqRows)
    val exactByDoc = exactUniq.map(v => v.doc_id -> v).toMap
    uniq.foreach { r =>
      val ev = exactByDoc(r.getLong(0))
      if (!r.getBoolean(4))
        assert(r.getBoolean(6) == ev.admit, s"pre-crossover doc ${ev.doc_id}")
      else if (r.getBoolean(6) != ev.admit) {
        // exact prefix rank of this doc vs the cut, from the exact fold
        val n = ev.n_seen
        val cut = (n * GkGateStream.QuantilePct + 99) / 100
        val cntLe = uniqRows.take(exactUniq.indexWhere(_.doc_id == ev.doc_id) + 1)
          .count(_.score <= ev.score).toLong
        assert(math.abs(cntLe - cut) <= n / GkGateStream.Acc + 1,
          s"doc ${ev.doc_id}: decision flip outside the GK band " +
            s"(cnt_le=$cntLe cut=$cut n=$n)")
      }
    }

    // the q168 dual (oracle-green) audits this very fold: ok uniform
    val audited = graft.queries.TextQueries
      .q168AdaptiveGateDual(spark, sf0001).collect()
    assert(audited.length == batch.length)
    assert(audited.forall(_.getBoolean(6)), "q168 ok must be uniform true")

    // state-size contract, both regimes, 100k rows each direct fold:
    // unique scores → sketch-sized; 32-value domain → 32 map entries
    val uniqBig = (1L to 100000L).map(i =>
      DocRow(i, "u", i * 2654435761L % 1000003L))
    val (_, stU) = AdaptiveGateStream.adaptiveFold(AdState(None, None), uniqBig)
    assert(stU.dom.isEmpty && stU.gk.get.ts.length < 2000,
      s"unique-score state must be sketch-sized, got ${stU.gk.get.ts.length}")
    val denseBig = (1L to 100000L).map(i => DocRow(i, "d", i % 32L))
    val (_, stD) = AdaptiveGateStream.adaptiveFold(AdState(None, None), denseBig)
    assert(stD.gk.isEmpty && stD.dom.get.dom.size == 32,
      "dense state must stay the exact 32-entry domain")
  }

  test("streaming drift monitor (VERDICT r15 item 6): final per-source " +
      "snapshot equals the oracle-checked q169 batch dual bit-for-bit " +
      "(auc + lift_top doubles included), completing the monitoring " +
      "triple; state is the margin DOMAIN, not rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.streaming.DriftStream
    val dir = tmpDir("docs_drift")
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"source", $"text")
    val mid = 250L
    docs.where($"doc_id" < mid).coalesce(1).write.parquet(s"$dir/h1")
    docs.where($"doc_id" >= mid).coalesce(1).write.parquet(s"$dir/h2")
    for ((src, dst) <- Seq("h1" -> "d1.parquet", "h2" -> "d2.parquet")) {
      val part = new java.io.File(s"$dir/$src").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$dir/$dst"))
    }
    val streamed = DriftStream
      .runBounded(spark, s"$dir/d*.parquet", "drift_mon",
        maxFilesPerTrigger = Some(1)).collect()
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toSeq
    // the cumulative domain state across two micro-batches must land on
    // EXACTLY the q169 dual (which DuckDB hash-checks): counts equal,
    // auc and lift_top doubles bit-equal — same single-sourced
    // arithmetic, not approximately equal
    val dual = graft.queries.TextQueries.q169DriftDual(spark, sf0001).collect()
    assert(key(streamed) == key(dual))
    // the monitor must actually discriminate somewhere: at least one
    // source with a defined AUC away from coin-flip, and a defined lift
    assert(streamed.exists(r => !r.isNullAt(4) &&
      math.abs(r.getDouble(4) - 0.5) > 0.05))
    assert(streamed.exists(r => !r.isNullAt(5)))
    // state contract: the fold's domain holds DISTINCT margins, not
    // rows — 100k rows over a 101-value margin domain stay 101 entries
    val rows100k = (1L to 100000L).map(i =>
      DriftStream.MarginRow(i, "s", i % 101L - 50L, i % 3L == 0L))
    var st = Map.empty[Long, DriftStream.PQ]
    val it = rows100k.iterator
    it.foreach { r =>
      val pq = st.getOrElse(r.m, DriftStream.PQ(0L, 0L))
      st = st.updated(r.m,
        if (r.pos) pq.copy(p = pq.p + 1L) else pq.copy(q = pq.q + 1L))
    }
    assert(st.size == 101)
    val snap = DriftStream.snapOf("s", 0L, st)
    assert(snap.n_docs == 100000L && snap.auc.isDefined && snap.lift_top.isDefined)
  }

  test("streaming agreement monitor: the final per-source snapshot equals " +
      "the oracle-checked q166 batch dual bit-for-bit (kappa doubles " +
      "included), and per-batch snapshots grow monotonically") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.queries.TextQueries
    val dir = tmpDir("docs_agree")
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"source", $"text")
    val mid = 250L
    docs.where($"doc_id" < mid).coalesce(1).write.parquet(s"$dir/h1")
    docs.where($"doc_id" >= mid).coalesce(1).write.parquet(s"$dir/h2")
    for ((src, dst) <- Seq("h1" -> "d1.parquet", "h2" -> "d2.parquet")) {
      val part = new java.io.File(s"$dir/$src").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$dir/$dst"))
    }
    val streamed = graft.streaming.AgreementStream
      .runBounded(spark, s"$dir/d*.parquet", "agree_mon",
        maxFilesPerTrigger = Some(1))
      .collect()
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5),
        if (r.isNullAt(6)) None else Some(r.getDouble(6)))).toSeq
    val dual = TextQueries.q166SourceAgreement(spark, sf0001).collect()
    assert(key(streamed) == key(dual),
      "final snapshots must equal the oracle-checked batch dual exactly")
    // trajectory: every source emitted one snapshot per touching batch,
    // with cumulative counts strictly growing
    val snaps = spark.table("agree_mon").collect()
      .groupBy(_.getString(0))
    assert(snaps.values.exists(_.length >= 2),
      "the two-batch drive must produce multi-snapshot trajectories")
    snaps.foreach { case (src, rows) =>
      val totals = rows.map(r => r.getLong(2) + r.getLong(3) +
        r.getLong(4) + r.getLong(5)).sorted
      assert(totals.distinct.length == totals.length,
        s"$src: cumulative totals must strictly grow across batches")
    }
  }
}
