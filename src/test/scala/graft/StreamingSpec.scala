package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.Streams
import graft.view.{QueryOpts, Reduce, View}

case class Ev(ts: Timestamp, event_type: String, value: Double)
case class UserEv(user_id: Long, ts: Timestamp)
case class Doc(ts: Timestamp, fp: String, text: String)
case class Change(_docid: Long, status: String, price: Double)
case class ChangeDel(_docid: Long, status: String, price: Double,
                     _deleted: Boolean)
case class VecChg(vec_id: Long, embedding: Array[Float], _deleted: Boolean)
case class TextChg(doc_id: Long, text: String, _deleted: Boolean)
case class FeedChg(seq: Long, id: Long, rev: String, deleted: Boolean)

class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)

  test("windowed counts with watermark aggregate per window+type") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streams.windowedCounts(in.toDF(), width = "10 minutes",
      lateness = "20 minutes")
      .writeStream.format("memory").queryName("wc").outputMode("complete")
      .start()
    in.addData(Ev(ts(1), "click", 1.0), Ev(ts(2), "click", 2.0),
      Ev(ts(12), "view", 5.0))
    q.processAllAvailable()
    val rows = spark.table("wc")
      .select(col("event_type"), col("cnt"), col("sum_value")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
    q.stop()
  }

  test("windowed _stats maintains sum/count/min/max/sumsqr per window") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streams.windowedStats(in.toDF(), width = "10 minutes",
      lateness = "20 minutes")
      .writeStream.format("memory").queryName("ws").outputMode("complete")
      .start()
    in.addData(Ev(ts(1), "click", 2.0), Ev(ts(2), "click", 4.0))
    q.processAllAvailable()
    val r = spark.table("ws").select(col("sum"), col("count"), col("min"),
      col("max"), col("sumsqr")).collect().head
    assert(r.getDouble(0) == 6.0 && r.getLong(1) == 2L &&
      r.getDouble(2) == 2.0 && r.getDouble(3) == 4.0 && r.getDouble(4) == 20.0)
    q.stop()
  }

  test("streaming dedup drops repeated fingerprints within watermark") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[Doc]
    val q = Streams.dedupStream(in.toDF(), lateness = "1 hour")
      .writeStream.format("memory").queryName("dd").outputMode("append")
      .start()
    in.addData(Doc(ts(0), "a", "first"), Doc(ts(1), "a", "dup of first"),
      Doc(ts(2), "b", "second"))
    q.processAllAvailable()
    val got = spark.table("dd").select(col("fp")).as[String].collect().sorted
    assert(got.toSeq == Seq("a", "b"))
    q.stop()
  }

  test("stateful sessionization emits closed sessions across micro-batches") {
    implicit val sql = spark.sqlContext
    val in = MemoryStream[UserEv]
    def us(min: Int) = ts(min).getTime * 1000L
    val q = Streams.sessionizeStream(
      in.toDF(), gapSeconds = 600)
      .writeStream.format("memory").queryName("sess").outputMode("append")
      .start()
    // user 1: two events close together...
    in.addData(UserEv(1L, ts(0)), UserEv(1L, ts(2)))
    q.processAllAvailable()
    // ...then an event after a >10min gap closes the first session;
    // user 2's session stays open (same event time, nothing to time out)
    in.addData(UserEv(1L, ts(20)), UserEv(2L, ts(20)))
    q.processAllAvailable()
    val rows = spark.table("sess").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.contains((1L, us(0), us(2), 2L)))
    assert(!rows.exists(_._1 == 2L))
    q.stop()
  }

  test("incremental view maintenance merges micro-batches into the index") {
    implicit val sql = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream").toString
    val path = s"$dir/idx"
    val in = MemoryStream[Change]
    val emit = (batch: org.apache.spark.sql.DataFrame) =>
      batch.select(col("_docid").as("_id"), col("status").as("key"),
        col("price").as("value"))
    val q = Streams.maintainViewIndex(spark, in.toDF(), emit, path,
      s"$dir/ckpt", reduce = Some(Reduce.Sum))
    in.addData(Change(1, "F", 10.0), Change(2, "O", 20.0))
    q.processAllAvailable()
    // materialize the reduced index mid-stream; later batches keep it
    // in sync bucket-locally
    val docs0 = Seq((1L, "F", 10.0), (2L, "O", 20.0))
      .toDF("_docid", "status", "price")
    View(docs0, col("_docid"), col("status"), col("price"),
      Some(Reduce.Sum)).materializeReduced(spark, path)
    in.addData(Change(1, "F", 99.0), Change(3, "P", 30.0)) // doc 1 updated
    q.processAllAvailable()
    q.stop()
    val red = spark.read.parquet(s"$path/reduced")
      .select(col("key"), col("value")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(red == Map("F" -> 99.0, "O" -> 20.0, "P" -> 30.0))
    val idx = spark.read.parquet(s"$path/data")
    assert(idx.count() == 3)
    val v1 = idx.filter(col("_id") === 1).select(col("value")).as[Double].head()
    assert(v1 == 99.0)
    // and the index is queryable through the View API
    val docs = Seq((1L, "F", 99.0), (2L, "O", 20.0), (3L, "P", 30.0))
      .toDF("_docid", "status", "price")
    val view = View(docs, col("_docid"), col("status"), col("price"),
      Some(Reduce.Sum)).fromIndex(spark, path)
    val sums = view.query(QueryOpts(group = true)).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(sums == Map("F" -> 99.0, "O" -> 20.0, "P" -> 30.0))
  }

  test("streaming tombstones retire rows from the index and reduced index") {
    implicit val sql = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-del").toString
    val path = s"$dir/idx"
    val in = MemoryStream[ChangeDel]
    val emit = (batch: org.apache.spark.sql.DataFrame) =>
      batch.select(col("_docid").as("_id"), col("status").as("key"),
        col("price").as("value"))
    val q = Streams.maintainViewIndex(spark, in.toDF(), emit, path,
      s"$dir/ckpt", reduce = Some(Reduce.Sum), id = col("_docid"))
    in.addData(ChangeDel(1, "F", 10.0, _deleted = false),
      ChangeDel(2, "O", 20.0, _deleted = false),
      ChangeDel(3, "F", 5.0, _deleted = false))
    q.processAllAvailable()
    val docs0 = Seq((1L, "F", 10.0), (2L, "O", 20.0), (3L, "F", 5.0))
      .toDF("_docid", "status", "price")
    View(docs0, col("_docid"), col("status"), col("price"),
      Some(Reduce.Sum)).materializeReduced(spark, path)
    // delete doc 1 and update doc 2 in the same micro-batch
    in.addData(ChangeDel(1, "F", 10.0, _deleted = true),
      ChangeDel(2, "O", 25.0, _deleted = false))
    q.processAllAvailable()
    q.stop()
    val idx = spark.read.parquet(s"$path/data")
    assert(idx.filter(col("_id") === 1).count() == 0)
    assert(idx.count() == 2)
    val red = spark.read.parquet(s"$path/reduced")
      .select(col("key"), col("value")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(red == Map("F" -> 5.0, "O" -> 25.0))
    assert(graft.view.IndexStore.readMeta(spark, path).updateSeq == 2L)
  }

  test("one view-maintenance micro-batch stays within its job budget") {
    implicit val sql = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-jobs").toString
    val path = s"$dir/idx"
    val in = MemoryStream[ChangeDel]
    val emit = (batch: org.apache.spark.sql.DataFrame) =>
      batch.select(col("_docid").as("_id"), col("status").as("key"),
        col("price").as("value"))
    val q = Streams.maintainViewIndex(spark, in.toDF(), emit, path,
      s"$dir/ckpt", buckets = 4, reduce = Some(Reduce.Sum),
      id = col("_docid"))
    val keys = ('a' to 'p').map(_.toString)
    def doc(i: Int, k: String, del: Boolean = false) =
      ChangeDel(i.toLong, k, i.toDouble, _deleted = del)
    in.addData((1 to 64).map(i => doc(i, keys(i % 16))): _*)
    q.processAllAvailable()
    View(Seq((1L, "a", 1.0)).toDF("_docid", "status", "price"),
      col("_docid"), col("status"), col("price"), Some(Reduce.Sum))
      .materializeReduced(spark, path)
    // one warm batch: the budget is for a steady-state batch
    in.addData(doc(2, "c"))
    q.processAllAvailable()
    // key moves across buckets, a price update, new docs, tombstones
    val jobs = org.apache.spark.graft.JobCounter(spark.sparkContext,
        q.runId.toString) {
      in.addData(doc(3, "o"), doc(4, "a"), doc(5, "f"), doc(70, "b"),
        doc(71, "n"), doc(6, "g", del = true), doc(7, "h", del = true))
      q.processAllAvailable()
    }
    q.stop()
    info(s"$jobs Spark jobs in the micro-batch")
    // 14-15 jobs measured (two writes may each start the pinned
    // rows' cache stage); one job of slack
    val budget = 16
    assert(jobs <= budget,
      s"$jobs Spark jobs for one maintenance micro-batch (budget $budget)")
    val red = spark.read.parquet(s"$path/reduced")
      .select(col("key"), col("value")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val live = (1 to 64).filterNot(Set(6, 7)).map(i =>
      i -> (i match {
        case 2 => "c"; case 3 => "o"; case 4 => "a"; case 5 => "f"
        case _ => keys(i % 16)
      })) ++ Seq(70 -> "b", 71 -> "n")
    assert(red == live.groupBy(_._2).map { case (k, ds) =>
      k -> ds.map(_._1.toDouble).sum })
  }

  test("skewed change feed triggers auto-compaction with re-sampled bounds") {
    import graft.view.IndexStore
    implicit val sql = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-cmp").toString
    val path = s"$dir/idx"
    val in = MemoryStream[Change]
    val emit = (batch: org.apache.spark.sql.DataFrame) =>
      batch.select(col("_docid").as("_id"), col("status").as("key"),
        col("price").as("value"))
    val q = Streams.maintainViewIndex(spark, in.toDF(), emit, path,
      s"$dir/ckpt", buckets = 4, reduce = Some(Reduce.Sum),
      id = col("_docid"), autoCompactSkew = 4.0)
    // batch 1: keys spread across the range -> balanced creation bounds
    in.addData((1 to 8).map(i => Change(i.toLong, ('a' + i - 1).toChar.toString, i.toDouble)): _*)
    q.processAllAvailable()
    val bounds0 = IndexStore.readMeta(spark, path).bounds.map(_._2.toSeq)
    View(Seq((1L, "a", 1.0)).toDF("_docid", "status", "price"),
      col("_docid"), col("status"), col("price"), Some(Reduce.Sum))
      .materializeReduced(spark, path)
    // batch 2: 40 new docs all ABOVE the old key range -> one bucket
    // takes everything -> max/median breaches 4.0 -> compaction
    in.addData((101 to 140).map(i => Change(i.toLong, f"z$i%03d", 1.0)): _*)
    q.processAllAvailable()
    q.stop()
    val meta1 = IndexStore.readMeta(spark, path)
    assert(meta1.bounds.map(_._2.toSeq) != bounds0, "bounds not re-sampled")
    val counts = IndexStore.bucketStats(spark, path).values.toSeq.sorted
    assert(counts.sum == 48)
    assert(counts.last.toDouble / math.max(counts(counts.size / 2), 1L) <= 4.0,
      s"still skewed after compaction: $counts")
    // queries stay correct: every row present, reduced index re-derived
    val docs = spark.emptyDataFrame
    val red = spark.read.parquet(s"$path/reduced")
    assert(red.count() == 48)
    assert(red.filter(col("key") === "z101").select(col("value"))
      .collect().head.getDouble(0) == 1.0)
    val rows = spark.read.parquet(s"$path/data")
    assert(rows.count() == 48 && rows.filter(col("key") === "d").count() == 1)
  }

  test("streaming ANN maintenance: upserts and tombstones match a rebuild") {
    import graft.operators.Similarity
    implicit val sql = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-ann").toString
    val path = s"$dir/lsh"
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val all = emb.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect()
    val in = MemoryStream[VecChg]
    val q = Streams.maintainAnnIndex(spark, in.toDF(), path, s"$dir/ckpt")
    // batch 1 builds the index from the full corpus
    in.addData(all.map { case (id, e) => VecChg(id, e, _deleted = false) }
      .toSeq: _*)
    q.processAllAvailable()
    // batch 2: vectors 20..24 re-embedded (negation moves buckets),
    // 25 tombstoned
    val changed = all.filter(x => x._1 >= 20 && x._1 <= 24)
      .map { case (id, e) => VecChg(id, e.map(-_), _deleted = false) }
    in.addData(
      (changed :+ VecChg(25L, Array.empty[Float], _deleted = true)).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    assert(graft.view.IndexStore.readMeta(spark, path).updateSeq == 2L)
    val corpus2 = emb.filter(!$"vec_id".between(20, 25))
      .select($"vec_id", $"embedding")
      .unionByName(changed.toSeq.toDF("vec_id", "embedding", "_deleted")
        .select($"vec_id", $"embedding"))
    val fresh = s"$dir/lsh_fresh"
    Similarity.buildLshIndex(corpus2, fresh)
    val queries = emb.filter($"vec_id" < 10)
    assert(
      Similarity.lshTopKIndexed(spark, path, queries, 5)
        .collect().map(_.toSeq).toSet ==
      Similarity.lshTopKIndexed(spark, fresh, queries, 5)
        .collect().map(_.toSeq).toSet,
      "streamed ANN index diverges from rebuild")
  }

  test("streamed binary + sq8 tiers: sq8 model freezes at batch 1; serves match") {
    import graft.operators.Similarity
    implicit val sql = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-quant").toString
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val all = emb.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect()
    val changed = all.filter(x => x._1 >= 20 && x._1 <= 24)
      .map { case (id, e) => VecChg(id, e.map(-_), _deleted = false) }
    val corpus2 = emb.filter(!$"vec_id".between(20, 25))
      .select($"vec_id", $"embedding")
      .unionByName(changed.toSeq.toDF("vec_id", "embedding", "_deleted")
        .select($"vec_id", $"embedding"))
    val queries = emb.filter($"vec_id" < 10)
    def drive(path: String, ck: String,
              mk: org.apache.spark.sql.DataFrame =>
                org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val in = MemoryStream[VecChg]
      val q = mk(in.toDF())
      in.addData(all.map { case (id, e) =>
        VecChg(id, e, _deleted = false) }.toSeq: _*)
      q.processAllAvailable()
      in.addData((changed :+
        VecChg(25L, Array.empty[Float], _deleted = true)).toSeq: _*)
      q.processAllAvailable()
      q.stop()
    }
    // binary: model-free, so the streamed store == a plain rebuild
    val pB = s"$dir/bin"
    drive(pB, s"$dir/ckB",
      df => Streams.maintainBinaryIndex(spark, df, pB, s"$dir/ckB"))
    val freshB = s"$dir/bin_fresh"
    Similarity.buildBinaryIndex(corpus2, freshB)
    assert(
      Similarity.binaryTopKIndexed(spark, pB, queries, 5)
        .collect().map(_.toSeq).toSet ==
      Similarity.binaryTopKIndexed(spark, freshB, queries, 5)
        .collect().map(_.toSeq).toSet,
      "streamed binary index diverges from rebuild")
    // sq8: the [min,max] model freezes at batch 1 (the full corpus),
    // so the streamed serve == a FROZEN-model scan over the final
    // corpus — NOT a retrained rebuild
    val pS = s"$dir/sq8"
    drive(pS, s"$dir/ckS",
      df => Streams.maintainSq8Index(spark, df, pS, s"$dir/ckS"))
    assert(Similarity.sq8Model(spark, pS).collect().map(_.toSeq).toSeq ==
      Similarity.sq8Train(emb).collect().map(_.toSeq).toSeq,
      "the stored model must be the batch-1 training, frozen")
    assert(
      Similarity.sq8TopKIndexed(spark, pS, queries, 5)
        .collect().map(_.toSeq).toSet ==
      Similarity.sq8TopK(corpus2, queries, 5,
        Some(Similarity.sq8Model(spark, pS)))
        .collect().map(_.toSeq).toSet,
      "streamed sq8 serve diverges from the frozen-model scan")
    assert(graft.view.IndexStore.readMeta(spark, pS).updateSeq == 2L)
    // ivf-sq8: both quantizers freeze at batch 1; probing every list
    // of the streamed store == the frozen-model brute ranking over
    // the final corpus
    val pI = s"$dir/ivfsq8"
    drive(pI, s"$dir/ckI",
      df => Streams.maintainIvfSq8Index(spark, df, pI, s"$dir/ckI"))
    assert(
      Similarity.ivfSq8TopK(spark, pI, queries, 5, nProbe = 16)
        .collect().map(_.toSeq).toSet ==
      Similarity.sq8TopK(corpus2, queries, 5,
        Some(Similarity.sq8Model(spark, pI)))
        .collect().map(_.toSeq).toSet,
      "streamed ivf-sq8 probe-all diverges from the frozen-model scan")
  }

  test("streaming SemDeDup maintenance: verdicts match a scan over the final corpus") {
    import graft.operators.Similarity
    implicit val sql = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-semdd").toString
    val path = s"$dir/semdd"
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val all = emb.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect()
    val in = MemoryStream[VecChg]
    val q = Streams.maintainSemDedupIndex(spark, in.toDF(), path,
      s"$dir/ckpt", tau = 0.3)
    in.addData(all.map { case (id, e) => VecChg(id, e, _deleted = false) }
      .toSeq: _*)
    q.processAllAvailable()
    val changed = all.filter(x => x._1 >= 20 && x._1 <= 24)
      .map { case (id, e) => VecChg(id, e.map(-_), _deleted = false) }
    in.addData(
      (changed :+ VecChg(25L, Array.empty[Float], _deleted = true)).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    assert(graft.view.IndexStore.readMeta(spark, path).updateSeq == 2L)
    // fresh rebuild over the final corpus (same base-init quantizer:
    // vec_id < 16 untouched by the delta) must agree exactly
    val corpus2 = emb.filter(!$"vec_id".between(20, 25))
      .select($"vec_id", $"embedding")
      .unionByName(changed.toSeq.toDF("vec_id", "embedding", "_deleted")
        .select($"vec_id", $"embedding"))
    val fresh = s"$dir/semdd_fresh"
    Similarity.buildSemDedupIndex(corpus2, fresh, tau = 0.3)
    assert(
      Similarity.semDedupVerdicts(spark, path)
        .collect().map(_.toSeq).toSet ==
      Similarity.semDedupVerdicts(spark, fresh)
        .collect().map(_.toSeq).toSet,
      "streamed SemDeDup index diverges from rebuild")
  }

  test("streamed simhash index builds then upserts; matches a rebuild") {
    import graft.operators.Dedup
    implicit val sql = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-shx").toString
    val path = s"$dir/idx"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text")
    val all = docs.as[(Long, String)].collect().toSeq
    val in = MemoryStream[TextChg]
    val q = Streams.maintainSimhashIndex(spark, in.toDF(), path,
      s"$dir/ckpt", nBuckets = 16)
    val (h1, h2) = all.splitAt(all.size / 2)
    in.addData(h1.map { case (i, t) => TextChg(i, t, _deleted = false) }: _*)
    q.processAllAvailable()
    in.addData((h2.map { case (i, t) => TextChg(i, t, _deleted = false) } :+
      TextChg(h1.head._1, "", _deleted = true)): _*)
    q.processAllAvailable()
    q.stop()
    val fresh = s"$dir/fresh"
    Dedup.buildSimhashIndex(
      all.filterNot(_._1 == h1.head._1).toDF("doc_id", "text"),
      $"doc_id", "text", fresh, nBuckets = 16)
    assert(Dedup.simhashPairsIndexed(spark, path).collect().map(_.toSeq).toSet
      == Dedup.simhashPairsIndexed(spark, fresh).collect().map(_.toSeq).toSet)
    assert(graft.view.IndexStore.readMeta(spark, path).updateSeq == 2L)
  }

  test("streamed dedup clusters: delta batches keep labels rebuild-exact") {
    import graft.operators.DedupIndex
    implicit val sql = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-dcx").toString
    val path = s"$dir/idx"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text")
    val all = docs.as[(Long, String)].collect().toSeq
    val in = MemoryStream[TextChg]
    val q = Streams.maintainDedupClusters(spark, in.toDF(), path,
      s"$dir/ckpt", nBuckets = 16)
    val (h1, h2) = all.splitAt(all.size / 2)
    in.addData(h1.map { case (i, t) => TextChg(i, t, _deleted = false) }: _*)
    q.processAllAvailable()
    in.addData((h2.map { case (i, t) => TextChg(i, t, _deleted = false) } :+
      TextChg(h1.head._1, "", _deleted = true)): _*)
    q.processAllAvailable()
    q.stop()
    val fresh = s"$dir/fresh"
    DedupIndex.build(
      all.filterNot(_._1 == h1.head._1).toDF("doc_id", "text"),
      $"doc_id", $"text", fresh, nBuckets = 16)
    assert(DedupIndex.clusters(spark, path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      DedupIndex.clusters(spark, fresh).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap,
      "streamed cluster labels diverge from a rebuild")
  }

  test("streamed text index builds then upserts; matches a rebuild") {
    import graft.operators.TextSearch
    implicit val sql = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-txt").toString
    val path = s"$dir/idx"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text")
    val all = docs.as[(Long, String)].collect().toSeq
    val in = MemoryStream[TextChg]
    val q = Streams.maintainTextIndex(spark, in.toDF(), path, s"$dir/ckpt",
      nBuckets = 16)
    // batch 1 builds from the first half of the corpus
    val (h1, h2) = all.splitAt(all.size / 2)
    in.addData(h1.map { case (i, t) => TextChg(i, t, _deleted = false) }: _*)
    q.processAllAvailable()
    // batch 2: second half arrives, first doc edited, second tombstoned
    in.addData((h2.map { case (i, t) => TextChg(i, t, _deleted = false) } :+
      TextChg(h1.head._1, "hash stream zebra", _deleted = false) :+
      TextChg(h1(1)._1, "", _deleted = true)): _*)
    q.processAllAvailable()
    q.stop()
    assert(graft.view.IndexStore.readMeta(spark, path).updateSeq == 2L)
    val corpus2 = all.filterNot(x => x._1 == h1.head._1 || x._1 == h1(1)._1)
      .toDF("doc_id", "text")
      .unionByName(Seq((h1.head._1, "hash stream zebra"))
        .toDF("doc_id", "text"))
    val fresh = s"$dir/fresh"
    TextSearch.buildTextIndex(corpus2, $"doc_id", $"text", fresh,
      nBuckets = 16)
    for (t <- Seq(Seq("hash", "join", "stream"), Seq("zebra"))) {
      assert(TextSearch.searchIndexed(spark, path, t, 10)
        .collect().map(_.toSeq).toSeq ==
        TextSearch.searchIndexed(spark, fresh, t, 10)
          .collect().map(_.toSeq).toSeq,
        s"streamed text index diverges from rebuild for $t")
    }
  }

  // 13 jobs measured for each (17 before the micro-batch stopped
  // collecting its tombstone ids, 18 and 22 before the tiers shared one
  // store path); one job of slack, as for the view batch
  for ((tier, budget) <- Seq("ivf" -> 14, "pq" -> 14))
    test(s"one $tier vector-index maintenance micro-batch stays within its job budget") {
      implicit val sql = spark.sqlContext
      val dir = Files.createTempDirectory(s"graft-stream-$tier-jobs").toString
      val path = s"$dir/idx"
      val all = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      val in = MemoryStream[VecChg]
      val q =
        if (tier == "ivf")
          Streams.maintainAnnIndex(spark, in.toDF(), path, s"$dir/ckpt",
            ivf = true)
        else Streams.maintainPqIndex(spark, in.toDF(), path, s"$dir/ckpt")
      def chg(i: Int, neg: Boolean = false, del: Boolean = false) =
        VecChg(all(i)._1, if (neg) all(i)._2.map(-_) else all(i)._2, del)
      in.addData((0 until 400).map(chg(_)): _*)
      q.processAllAvailable()
      // one warm batch: the budget is for a steady-state batch
      in.addData(chg(20, neg = true))
      q.processAllAvailable()
      // list-moving updates, new vectors and a tombstone
      val jobs = org.apache.spark.graft.JobCounter(spark.sparkContext,
          q.runId.toString) {
        in.addData(chg(21, neg = true), chg(22, neg = true), chg(401),
          chg(402), chg(30, del = true))
        q.processAllAvailable()
      }
      q.stop()
      info(s"$jobs Spark jobs in the $tier micro-batch")
      assert(jobs <= budget,
        s"$jobs Spark jobs for one $tier maintenance micro-batch (budget $budget)")
      assert(graft.view.IndexStore.readMeta(spark, path).updateSeq == 3L)
    }

  // measured job counts plus one job of slack, as for the view batch
  // (23, 15 and 74 measured once the micro-batch stopped collecting
  // its tombstone ids; 25 and 17 with the one-record batch commit)
  for ((kind, budget) <- Seq("fielded text" -> 24, "simhash" -> 16,
                             "dedup cluster" -> 75))
    test(s"one $kind-index maintenance micro-batch stays within its job budget") {
      implicit val sql = spark.sqlContext
      val dir = Files.createTempDirectory("graft-stream-kind-jobs").toString
      val path = s"$dir/idx"
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      val in = MemoryStream[TextChg]
      val q = kind match {
        case "simhash" =>
          Streams.maintainSimhashIndex(spark, in.toDF(), path, s"$dir/ckpt",
            nBuckets = 8)
        case "dedup cluster" =>
          Streams.maintainDedupClusters(spark, in.toDF(), path, s"$dir/ckpt",
            nBuckets = 8)
        case _ => Streams.maintainFieldedTextIndex(spark, in.toDF(), path,
          s"$dir/ckpt", Seq(("title", substring($"text", 1, 24), 2.0),
            ("body", $"text", 1.0)), nBuckets = 8)
      }
      val (h1, h2) = docs.splitAt(docs.size / 2)
      in.addData(h1.map { case (i, t) => TextChg(i, t, _deleted = false) }: _*)
      q.processAllAvailable()
      // one warm batch: the budget is for a steady-state batch
      in.addData(TextChg(h1.head._1, "warm hash join", _deleted = false))
      q.processAllAvailable()
      // new docs, an edit and a tombstone
      val jobs = org.apache.spark.graft.JobCounter(spark.sparkContext,
          q.runId.toString) {
        in.addData((h2.take(3).map { case (i, t) => TextChg(i, t, _deleted = false) } :+
          TextChg(h1(2)._1, "hash stream zebra", _deleted = false) :+
          TextChg(h1(3)._1, "", _deleted = true)): _*)
        q.processAllAvailable()
      }
      q.stop()
      info(s"$jobs Spark jobs in the $kind micro-batch")
      assert(jobs <= budget,
        s"$jobs Spark jobs for one $kind maintenance micro-batch (budget $budget)")
      assert(graft.view.IndexStore.readMeta(spark, path).updateSeq == 3L)
    }

  test("one text-index maintenance micro-batch stays within its job budget") {
    import graft.operators.TextSearch
    implicit val sql = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-txt-jobs").toString
    val path = s"$dir/idx"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val in = MemoryStream[TextChg]
    val q = Streams.maintainTextIndex(spark, in.toDF(), path, s"$dir/ckpt",
      nBuckets = 8)
    val (h1, h2) = docs.splitAt(docs.size / 2)
    in.addData(h1.map { case (i, t) => TextChg(i, t, _deleted = false) }: _*)
    q.processAllAvailable()
    // one warm batch: the budget is for a steady-state batch
    in.addData(TextChg(h1.head._1, "warm hash join", _deleted = false))
    q.processAllAvailable()
    // new docs, an edit and a tombstone
    val jobs = org.apache.spark.graft.JobCounter(spark.sparkContext,
        q.runId.toString) {
      in.addData((h2.take(3).map { case (i, t) => TextChg(i, t, _deleted = false) } :+
        TextChg(h1(2)._1, "hash stream zebra", _deleted = false) :+
        TextChg(h1(3)._1, "", _deleted = true)): _*)
      q.processAllAvailable()
    }
    q.stop()
    info(s"$jobs Spark jobs in the micro-batch")
    // 22 measured (24 before the micro-batch stopped collecting its
    // tombstone ids, 26 before the one-record batch commit, 34 before
    // the format check and the stats read moved to the driver and the
    // store opens to footer schemas)
    val budget = 23
    assert(jobs <= budget,
      s"$jobs Spark jobs for one text maintenance micro-batch (budget $budget)")
    val corpus = (docs.take(docs.size / 2 + 3).filterNot(d =>
        d._1 == h1(2)._1 || d._1 == h1(3)._1 || d._1 == h1.head._1) ++
      Seq(h1(2)._1 -> "hash stream zebra", h1.head._1 -> "warm hash join"))
      .toDF("doc_id", "text")
    val fresh = s"$dir/fresh"
    TextSearch.buildTextIndex(corpus, $"doc_id", $"text", fresh, nBuckets = 8)
    for (t <- Seq(Seq("hash", "stream"), Seq("zebra", "warm")))
      assert(TextSearch.searchIndexed(spark, path, t, 10).collect().toSeq ==
        TextSearch.searchIndexed(spark, fresh, t, 10).collect().toSeq,
        s"maintained text index diverges from rebuild for $t")
  }

  test("one replication micro-batch stays within its job budget") {
    import graft.operators.Replication
    implicit val sql = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-repl-jobs").toString
    val source = (0 until 40).map(i =>
        (s"m$i", 2L, s"s$i", i % 9 == 4, Seq(s"1-a$i")))
      .toDF("id", "rev_pos", "rev_hash", "deleted", "ancestors")
    val in = MemoryStream[(Long, String)]
    val q = Streams.maintainReplication(spark, in.toDF().toDF("seq", "id"),
      source, $"id", $"rev_pos", $"rev_hash", $"deleted", $"ancestors",
      s"$dir/target", s"$dir/ckpt", numBuckets = 4)
    in.addData((0 until 20).map(i => (i.toLong, s"m$i")): _*)
    q.processAllAvailable()
    // one warm batch: the budget is for a steady-state batch
    in.addData((20L, "m20"))
    q.processAllAvailable()
    // new docs, a tombstoned leaf and a re-sent id
    val jobs = org.apache.spark.graft.JobCounter(spark.sparkContext,
        q.runId.toString) {
      in.addData((21L, "m21"), (22L, "m22"), (23L, "m13"), (24L, "m3"))
      q.processAllAvailable()
    }
    q.stop()
    info(s"$jobs Spark jobs in the micro-batch")
    // 32 measured; one job of slack, as for the view batch
    val budget = 33
    assert(jobs <= budget,
      s"$jobs Spark jobs for one replication micro-batch (budget $budget)")
    assert(Replication.openTarget(spark, s"$dir/target").count() == 23)
  }

  test("a tombstone-heavy micro-batch collects no tombstone ids and matches a rebuild") {
    import graft.operators.{Similarity, TextSearch}
    import org.apache.spark.sql.execution.QueryExecution
    implicit val sql = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-tombs").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toSeq
    // every micro-batch job reports the stream's own call site (`start
    // at Streams.scala`), so the driver collects are read from the
    // actions instead: the output columns of each Dataset `collect`.
    // Registered before the queries start, so their sessions inherit it.
    val collects = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]
    @volatile var on = false
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (on && f == "collect") collects.add(qe.analyzed.output.map(_.name))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // 550 tombstones: 300 stored ids (the first also updated in the
    // batch — the tombstone wins) and 250 never stored; plus 4 edits
    def tombs(ids: Seq[Long]) = ids.take(300) ++ (1L to 250L).map(_ + 100000L)
    val (tGone, vGone) = (tombs(docs.map(_._1)), tombs(vecs.map(_._1)))
    val (tEdits, vEdits) = (docs.slice(300, 304), vecs.slice(300, 304))
    val tIn = MemoryStream[TextChg]
    val vIn = MemoryStream[VecChg]
    val qt = Streams.maintainTextIndex(spark, tIn.toDF(), s"$dir/txt",
      s"$dir/ckt", nBuckets = 8)
    val qv = Streams.maintainAnnIndex(spark, vIn.toDF(), s"$dir/ann",
      s"$dir/ckv")
    try {
      tIn.addData(docs.map { case (i, t) => TextChg(i, t, _deleted = false) }: _*)
      vIn.addData(vecs.map { case (i, e) => VecChg(i, e, _deleted = false) }: _*)
      qt.processAllAvailable()
      qv.processAllAvailable()
      val tBatch = TextChg(tGone.head, "zebra resurrected", _deleted = false) +:
        (tEdits.map { case (i, _) => TextChg(i, "hash stream zebra", _deleted = false) } ++
          tGone.map(TextChg(_, "", _deleted = true)))
      val vBatch = VecChg(vGone.head, vecs.last._2, _deleted = false) +:
        (vEdits.map { case (i, e) => VecChg(i, e.map(-_), _deleted = false) } ++
          vGone.map(VecChg(_, Array.empty[Float], _deleted = true)))
      on = true
      org.apache.spark.graft.JobCounter(spark.sparkContext, qt.runId.toString) {
        tIn.addData(tBatch: _*)
        vIn.addData(vBatch: _*)
        qt.processAllAvailable()
        qv.processAllAvailable()
      }
      on = false
      val idCollects = collects.toArray.toSeq.collect {
        case c: Seq[_] if c == Seq("doc_id") || c == Seq("vec_id") => c }
      assert(idCollects.isEmpty,
        s"the micro-batch collected tombstone ids to the driver: $idCollects")
    } finally {
      spark.listenerManager.unregister(listener)
      qt.stop()
      qv.stop()
    }
    val tFresh = s"$dir/txt_fresh"
    TextSearch.buildTextIndex((docs.filterNot(d => tGone.contains(d._1) ||
        tEdits.exists(_._1 == d._1)) ++
        tEdits.map { case (i, _) => (i, "hash stream zebra") })
      .toDF("doc_id", "text"), $"doc_id", $"text", tFresh, nBuckets = 8)
    for (t <- Seq(Seq("hash", "stream"), Seq("zebra"), Seq("the", "data")))
      assert(TextSearch.searchIndexed(spark, s"$dir/txt", t, 10).collect().toSeq ==
        TextSearch.searchIndexed(spark, tFresh, t, 10).collect().toSeq,
        s"maintained text index diverges from a rebuild for $t")
    val vFresh = s"$dir/ann_fresh"
    val survivors = (vecs.filterNot(v => vGone.contains(v._1) ||
        vEdits.exists(_._1 == v._1)) ++
        vEdits.map { case (i, e) => (i, e.map(-_)) })
      .toDF("vec_id", "embedding")
    Similarity.buildLshIndex(survivors, vFresh)
    val queries = survivors.filter($"vec_id" % 7 === 0)
    assert(Similarity.lshTopKIndexed(spark, s"$dir/ann", queries, 5)
        .collect().map(_.toSeq).toSet ==
      Similarity.lshTopKIndexed(spark, vFresh, queries, 5)
        .collect().map(_.toSeq).toSet,
      "maintained ANN index diverges from a rebuild")
  }

  test("batch upserts refuse a stale-layout store, naming its path") {
    import graft.operators.{DedupIndex, TextSearch}
    implicit val sql = spark.sqlContext
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text").limit(20)
    val batch = Seq((1L, "some changed text")).toDF("doc_id", "text")
    val fs = graft.view.IndexStore.fsFor(spark, sfDir)
    def restamp(dir: String, df: org.apache.spark.sql.DataFrame): Unit = {
      df.coalesce(1).write.parquet(s"$dir.new")
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      fs.rename(new org.apache.hadoop.fs.Path(s"$dir.new"),
        new org.apache.hadoop.fs.Path(dir))
    }
    // a text store whose stats row carries the previous layout stamp
    val t = Files.createTempDirectory("graft-stale-batch-txt").toString + "/idx"
    TextSearch.buildTextIndex(docs, $"doc_id", $"text", t, nBuckets = 8)
    restamp(s"$t/stats", spark.read.parquet(s"$t/stats")
      .withColumn("fmt", lit(TextSearch.FormatVersion - 1)).localCheckpoint())
    val e1 = intercept[IllegalStateException](
      TextSearch.upsertTextDocs(spark, t, batch, $"doc_id", $"text"))
    assert(e1.getMessage.contains("stale on-disk layout") &&
      e1.getMessage.contains(t), e1.getMessage)
    // a dedup-cluster store stamped with the previous layout
    val c = Files.createTempDirectory("graft-stale-batch-dcx").toString + "/idx"
    DedupIndex.build(docs, $"doc_id", $"text", c, nBuckets = 8)
    restamp(s"$c/fmt", Seq(DedupIndex.FormatVersion - 1).toDF("fmt"))
    val e2 = intercept[IllegalStateException](
      DedupIndex.upsert(spark, c, batch, $"doc_id", $"text"))
    assert(e2.getMessage.contains("stale on-disk layout") &&
      e2.getMessage.contains(c), e2.getMessage)
  }

  test("streamed FIELDED index builds then upserts; matches a rebuild") {
    import graft.operators.TextSearch
    import org.apache.spark.sql.functions.{concat_ws, greatest, lit, size, slice}
    implicit val sql = spark.sqlContext
    val dir = Files.createTempDirectory("graft-stream-bm25f").toString
    val path = s"$dir/idx"
    val toks = graft.operators.Text.tokens($"text")
    val fields = Seq(
      ("head", concat_ws(" ", slice(toks, 1, 12)), 3.0),
      ("tail", concat_ws(" ", slice(toks, lit(13),
        greatest(size(toks) - 12, lit(0)))), 1.0))
    val all = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val in = MemoryStream[TextChg]
    val q = Streams.maintainFieldedTextIndex(spark, in.toDF(), path,
      s"$dir/ckpt", fields, nBuckets = 16)
    val (h1, h2) = all.splitAt(all.size / 2)
    in.addData(h1.map { case (i, t) => TextChg(i, t, _deleted = false) }: _*)
    q.processAllAvailable()
    in.addData((h2.map { case (i, t) => TextChg(i, t, _deleted = false) } :+
      TextChg(h1.head._1, "hash stream zebra with a longer tail of " +
        "words reaching past twelve tokens easily here", _deleted = false) :+
      TextChg(h1(1)._1, "", _deleted = true)): _*)
    q.processAllAvailable()
    q.stop()
    assert(graft.view.IndexStore.readMeta(spark, path).updateSeq == 2L)
    val corpus2 = all.filterNot(x => x._1 == h1.head._1 || x._1 == h1(1)._1)
      .toDF("doc_id", "text")
      .unionByName(Seq((h1.head._1, "hash stream zebra with a longer " +
        "tail of words reaching past twelve tokens easily here"))
        .toDF("doc_id", "text"))
    val fresh = s"$dir/fresh"
    TextSearch.buildFieldedTextIndex(corpus2, $"doc_id", fields, fresh,
      nBuckets = 16)
    for (t <- Seq(Seq("hash", "join", "stream"), Seq("zebra"))) {
      assert(TextSearch.searchFielded(spark, path, t, 10)
        .collect().map(_.toSeq).toSeq ==
        TextSearch.searchFielded(spark, fresh, t, 10)
          .collect().map(_.toSeq).toSeq,
        s"streamed fielded index diverges from rebuild for $t")
    }
  }

  test("maintainers fail ACTIONABLY on a stale-layout artifact") {
    import graft.operators.{DedupIndex, TextSearch}
    implicit val sql = spark.sqlContext
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id", $"text").limit(20)

    // dedup clusters: a present artifact whose layout marker is gone
    // (simulating a pre-versioning build) must fail with the rebuild
    // message, not crash-loop on a missing-column AnalysisException
    val d1 = Files.createTempDirectory("graft-stale-dcx").toString
    DedupIndex.build(docs, $"doc_id", $"text", s"$d1/idx", nBuckets = 8)
    val fs = graft.view.IndexStore.fsFor(spark, s"$d1/idx")
    fs.delete(new org.apache.hadoop.fs.Path(s"$d1/idx/fmt"), true)
    assert(!DedupIndex.indexCurrent(spark, s"$d1/idx"))
    val in1 = MemoryStream[TextChg]
    val q1 = Streams.maintainDedupClusters(spark, in1.toDF(),
      s"$d1/idx", s"$d1/ckpt", nBuckets = 8)
    in1.addData(TextChg(1L, "some changed text", _deleted = false))
    val e1 = intercept[Exception] { q1.processAllAvailable() }
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      while (c.getCause != null) c = c.getCause
      c.getMessage
    }
    assert(rootMsg(e1).contains("stale on-disk layout"),
      s"wanted the actionable stale-layout error, got: ${rootMsg(e1)}")
    q1.stop()

    // text index: same contract when the stats row predates the
    // analyzer columns
    val d2 = Files.createTempDirectory("graft-stale-txt").toString
    TextSearch.buildTextIndex(docs, $"doc_id", $"text", s"$d2/idx",
      nBuckets = 8)
    val fs2 = graft.view.IndexStore.fsFor(spark, s"$d2/idx")
    fs2.delete(new org.apache.hadoop.fs.Path(s"$d2/idx/stats"), true)
    assert(!TextSearch.indexCurrent(spark, s"$d2/idx"))
    val in2 = MemoryStream[TextChg]
    val q2 = Streams.maintainTextIndex(spark, in2.toDF(),
      s"$d2/idx", s"$d2/ckpt", nBuckets = 8)
    in2.addData(TextChg(1L, "some changed text", _deleted = false))
    val e2 = intercept[Exception] { q2.processAllAvailable() }
    assert(rootMsg(e2).contains("stale on-disk layout"),
      s"wanted the actionable stale-layout error, got: ${rootMsg(e2)}")
    q2.stop()
  }

  test("streamed event store serves the same range reads as a batch write") {
    import graft.sources.{EventStore, EventTime}
    implicit val sql = spark.sqlContext
    val dir = Files.createTempDirectory("graft-evstream").toString
    val day = 86400000L // ms
    def ev(d: Long, ms: Long, t: String, v: Double) =
      Ev(new Timestamp(d * day + ms), t, v)
    val in = MemoryStream[Ev]
    val q = Streams.maintainEventStore(spark, in.toDF(),
      s"$dir/store", s"$dir/ckpt")
    in.addData(ev(0, 10, "a", 1.0), ev(1, 20, "b", 2.0))
    q.processAllAvailable()
    in.addData(ev(1, 30, "a", 3.0), ev(2, 40, "c", 4.0),
      ev(0, 50, "b", 5.0)) // late row into day 0
    q.processAllAvailable()
    q.stop()
    val batch = Seq(ev(0, 10, "a", 1.0), ev(1, 20, "b", 2.0),
      ev(1, 30, "a", 3.0), ev(2, 40, "c", 4.0), ev(0, 50, "b", 5.0))
      .toDF()
    EventStore.write(batch, s"$dir/ref")
    val dayUs = 86400000000L
    for ((lo, hi) <- Seq((0L, 3 * dayUs), (dayUs, 2 * dayUs),
        (dayUs / 2, dayUs + dayUs / 2))) {
      val a = EventStore.readRange(spark, s"$dir/store", lo, hi)
        .orderBy("ts_us", "event_type").collect().toSeq
      val b = EventStore.readRange(spark, s"$dir/ref", lo, hi)
        .orderBy("ts_us", "event_type").collect().toSeq
      assert(a == b, s"range [$lo,$hi)")
    }
  }

  test("streamed changes feed serves the same since-reads as a batch write") {
    import graft.sources.ChangesFeed
    implicit val sql = spark.sqlContext
    val dir = Files.createTempDirectory("graft-chgstream").toString
    val in = MemoryStream[FeedChg]
    val q = Streams.maintainChangesFeed(spark, in.toDF(),
      s"$dir/feed", s"$dir/ckpt", width = 16)
    in.addData((0L until 40L).map(i => FeedChg(i, i % 10, s"1-r$i", false)): _*)
    q.processAllAvailable()
    in.addData((40L until 60L).map(i =>
      FeedChg(i, i % 7, s"2-r$i", i % 2 == 0)): _*)
    q.processAllAvailable()
    q.stop()
    // batch-built reference over the same log
    val log = ((0L until 40L).map(i => (i, i % 10, s"1-r$i", false)) ++
      (40L until 60L).map(i => (i, i % 7, s"2-r$i", i % 2 == 0)))
      .toDF("seq", "id", "rev", "deleted")
    ChangesFeed.write(log, s"$dir/ref", width = 16)
    for (since <- Seq(-1L, 20L, 45L, 59L)) {
      val a = ChangesFeed.since(spark, s"$dir/feed", since).collect().toSeq
      val b = ChangesFeed.since(spark, s"$dir/ref", since).collect().toSeq
      assert(a == b, s"since=$since")
    }
    assert(ChangesFeed.lastSeq(spark, s"$dir/feed") == 59L)
  }
}
