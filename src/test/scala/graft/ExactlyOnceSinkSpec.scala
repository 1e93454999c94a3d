package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.ExactlyOnceSink

class ExactlyOnceSinkSpec extends SparkSpec {

  test("re-delivered epochs are skipped; reader sees only committed epochs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("eos").toString
    val sink = new ExactlyOnceSink(dir)
    val df1 = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val df2 = Seq((3, "c")).toDF("id", "v")

    sink.write(df1, 0L)
    sink.write(df2, 1L)
    // re-delivery of epoch 0 with DIFFERENT data must be a no-op
    sink.write(df2.withColumn("v", lit("EVIL")), 0L)
    assert(sink.committedEpochs() == Seq(0L, 1L))

    val back = sink.read(spark).orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(back.toSeq == Seq((1, "a"), (2, "b"), (3, "c")))
  }

  test("manifest records the epoch's exact file lineage") {
    import spark.implicits._
    val dir = Files.createTempDirectory("eosl").toString
    val sink = new ExactlyOnceSink(dir)
    sink.write(Seq((1, "a"), (2, "b")).toDF("id", "v").repartition(2), 0L)
    val manifest = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_manifest/epoch-0000000000.json")))
    val onDisk = new java.io.File(s"$dir/data/epoch=0").list()
      .filter(_.startsWith("part-")).sorted
    assert(onDisk.length == 2)
    onDisk.foreach(f => assert(manifest.contains("\"" + f + "\""),
      s"file $f missing from lineage: $manifest"))
    assert(manifest.contains("\"rows\": 2"))
  }

  test("manifest I/O works through an explicit file:// URI (Hadoop FS routing)") {
    import spark.implicits._
    val dir = "file://" + Files.createTempDirectory("eos3").toString
    val sink = new ExactlyOnceSink(dir)
    sink.write(Seq((1, "a")).toDF("id", "v"), 0L)
    sink.write(Seq((2, "b")).toDF("id", "v"), 1L)
    sink.write(Seq((9, "dup")).toDF("id", "v"), 0L) // re-delivery: no-op
    assert(sink.committedEpochs() == Seq(0L, 1L))
    val back = sink.read(spark).orderBy("id").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(back.toSeq == Seq((1, "a"), (2, "b")))
  }

  test("compaction merges epochs into one snapshot; reads and re-delivery stay correct") {
    import spark.implicits._
    val dir = Files.createTempDirectory("eosc").toString
    val sink = new ExactlyOnceSink(dir)
    (0L until 5L).foreach(e => sink.write(Seq((e.toInt, s"v$e")).toDF("id", "v"), e))
    val before = sink.read(spark).collect().map(_.toSeq).toSet

    sink.compact(spark, targetPartitions = 2)
    assert(sink.compactHi().contains(4L))
    assert(sink.committedEpochs().isEmpty, "per-epoch manifests GC'd")
    assert(sink.read(spark).collect().map(_.toSeq).toSet == before)

    // re-delivery of a compacted epoch must STILL be skipped
    sink.write(Seq((99, "EVIL")).toDF("id", "v"), 2L)
    assert(sink.read(spark).collect().map(_.toSeq).toSet == before)

    // the stream continues: new epochs append after the snapshot
    sink.write(Seq((5, "v5")).toDF("id", "v"), 5L)
    assert(sink.read(spark).count() == 6)

    // a second compaction folds the snapshot + the new epoch
    sink.compact(spark, targetPartitions = 1)
    assert(sink.compactHi().contains(5L))
    assert(sink.read(spark).count() == 6)

    // GC removes the 6 folded epoch dirs + the superseded snapshot,
    // leaves the live snapshot, and reads are unchanged
    assert(sink.gcUnreferenced() == 7)
    assert(sink.gcUnreferenced() == 0, "GC must be idempotent")
    assert(sink.read(spark).count() == 6)
  }

  test("compaction snapshots only the epochs it captured, never a concurrent commit") {
    import spark.implicits._
    val dir = Files.createTempDirectory("eost").toString
    val sink = new ExactlyOnceSink(dir)
    (0L until 3L).foreach(e => sink.write(Seq((e.toInt, s"v$e")).toDF("id", "v"), e))
    // simulate the race window: a compactor whose epoch capture is frozen
    // at {0,1,2}, while epoch 3 commits before the rewrite runs. The
    // rewrite must fold ONLY the captured epochs — folding the freshly
    // committed epoch 3 while its manifest survives the GC would
    // permanently duplicate its rows.
    val staleCompactor = new ExactlyOnceSink(dir) {
      override def committedEpochs(): Seq[Long] = Seq(0L, 1L, 2L)
    }
    sink.write(Seq((3, "v3")).toDF("id", "v"), 3L) // the racing commit
    staleCompactor.compact(spark, targetPartitions = 1)
    val reader = new ExactlyOnceSink(dir)
    assert(reader.compactHi().contains(2L))
    assert(reader.committedEpochs() == Seq(3L), "epoch 3's manifest must survive")
    val back = reader.read(spark).collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(back.sorted == Seq((0, "v0"), (1, "v1"), (2, "v2"), (3, "v3")),
      s"rows duplicated or lost after racing compaction: $back")
  }

  test("GC never deletes in-flight (beyond-horizon) data directories") {
    import spark.implicits._
    val dir = Files.createTempDirectory("eosg").toString
    val sink = new ExactlyOnceSink(dir)
    (0L until 3L).foreach(e => sink.write(Seq((e.toInt, s"v$e")).toDF("id", "v"), e))
    sink.compact(spark, targetPartitions = 1)
    // in-flight epoch 3: parquet written, manifest not yet published
    Seq((3, "inflight")).toDF("id", "v").write.parquet(s"$dir/data/epoch=3")
    // in-flight future compaction rewrite
    Seq((0, "snap")).toDF("id", "v").write.parquet(s"$dir/data/compact-9")
    // stale folded epoch dirs (0..2) are the only legitimate victims
    assert(sink.gcUnreferenced() == 3)
    val left = new java.io.File(s"$dir/data").listFiles().map(_.getName).toSet
    assert(left.contains("epoch=3"), "in-flight epoch dir deleted")
    assert(left.contains("compact-9"), "in-flight compaction dir deleted")
    // the in-flight write can now publish and the table stays consistent
    sink.write(Seq((3, "v3")).toDF("id", "v"), 3L)
    assert(sink.read(spark).count() == 4)
  }

  test("readBetween: incremental scan of (after, until] epochs; loud after compaction") {
    import spark.implicits._
    val dir = Files.createTempDirectory("eosi").toString
    val sink = new ExactlyOnceSink(dir)
    (0L until 5L).foreach(e => sink.write(Seq((e.toInt, s"v$e")).toDF("id", "v"), e))
    val inc = sink.readBetween(spark, afterEpoch = 1L, untilEpoch = 3L)
      .select($"id").as[Int].collect().sorted.toSeq
    assert(inc == Seq(2, 3), s"got $inc")
    // consumer caught up through epoch 4: zero rows but the REAL table
    // schema (a zero-column DataFrame would crash the consumer's selects)
    val caughtUp = sink.readBetween(spark, afterEpoch = 4L)
    assert(caughtUp.isEmpty && caughtUp.columns.toSeq == Seq("id", "v"))
    // after compaction, per-epoch lineage below hi is gone — must fail loudly
    sink.compact(spark, targetPartitions = 1)
    intercept[IllegalStateException](sink.readBetween(spark, afterEpoch = 2L))
    // but incremental reads from the snapshot boundary onward still work
    sink.write(Seq((5, "v5")).toDF("id", "v"), 5L)
    val tail = sink.readBetween(spark, afterEpoch = 4L).select($"id").as[Int].collect().toSeq
    assert(tail == Seq(5))
  }

  test("uncommitted partial data is invisible and safely overwritten") {
    import spark.implicits._
    val dir = Files.createTempDirectory("eos2").toString
    val sink = new ExactlyOnceSink(dir)
    // simulate a crashed attempt: data written, no manifest
    Seq((9, "junk")).toDF("id", "v").write.parquet(s"$dir/data/epoch=5")
    assert(sink.committedEpochs().isEmpty)
    // retry of epoch 5 overwrites and commits atomically
    sink.write(Seq((5, "good")).toDF("id", "v"), 5L)
    val back = sink.read(spark).collect().map(r => (r.getInt(0), r.getString(1)))
    assert(back.toSeq == Seq((5, "good")))
  }

  test("bucketed sink: pruned read lists ONLY the matching bucket dirs and skips silent epochs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("eosb").toString
    val sink = new ExactlyOnceSink(dir, bucketCol = Some("host_bucket"))
    // epoch 0: buckets 0 and 1; epoch 1: bucket 1 only; epoch 2: bucket 0 only
    sink.write(Seq((1, "a", 0), (2, "b", 1)).toDF("id", "v", "host_bucket"), 0L)
    sink.write(Seq((3, "c", 1)).toDF("id", "v", "host_bucket"), 1L)
    sink.write(Seq((4, "d", 0)).toDF("id", "v", "host_bucket"), 2L)

    // full read sees everything; the bucket column lives in the data files
    val full = sink.read(spark)
    assert(full.count() == 4)
    assert(full.columns.contains("host_bucket"))

    // pruned read: correct rows
    val b1 = sink.read(spark, bucket = Some(1L))
    assert(b1.orderBy("id").collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
      == Seq((2, "b", 1), (3, "c", 1)))
    // and ONLY bucket-1 directories are listed — epoch 2 (no bucket-1
    // rows) is skipped from the manifest counts, never touched
    val files = b1.inputFiles
    assert(files.nonEmpty)
    assert(files.forall(_.contains("host_bucket=1")), files.mkString(", "))
    assert(!files.exists(_.contains("epoch=2")), "silent epoch not pruned: " + files.mkString(", "))

    // an absent bucket yields a schema-preserving empty frame
    val b9 = sink.read(spark, bucket = Some(9L))
    assert(b9.count() == 0 && b9.columns.toSet == full.columns.toSet)

    // manifest records per-bucket row counts
    val m0 = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_manifest/epoch-0000000000.json")))
    assert(m0.contains("\"buckets\""))
    assert(m0.replaceAll("\\s", "").contains("\"0\":1") &&
      m0.replaceAll("\\s", "").contains("\"1\":1"), m0)
  }

  test("bucketed sink: compaction preserves the pruned layout and sums bucket counts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("eosbc").toString
    val sink = new ExactlyOnceSink(dir, bucketCol = Some("host_bucket"))
    (0L until 4L).foreach { e =>
      sink.write(Seq((e.toInt * 2, s"v$e", 0), (e.toInt * 2 + 1, s"w$e", 1))
        .toDF("id", "v", "host_bucket"), e)
    }
    val before = sink.read(spark).collect().map(_.toSeq).toSet
    sink.compact(spark, targetPartitions = 2)
    assert(sink.read(spark).collect().map(_.toSeq).toSet == before)
    // snapshot keeps bucket dirs: pruned read off the snapshot
    val b0 = sink.read(spark, bucket = Some(0L))
    assert(b0.count() == 4)
    assert(b0.inputFiles.forall(f => f.contains("host_bucket=0") && f.contains("compact-")),
      b0.inputFiles.mkString(", "))
    // compact manifest sums the per-epoch bucket counts
    val cm = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_manifest/compact-0000000003.json")))
    assert(cm.replaceAll("\\s", "").contains("\"0\":4") &&
      cm.replaceAll("\\s", "").contains("\"1\":4"), cm)
    // re-delivery of a folded epoch is still skipped
    sink.write(Seq((99, "EVIL", 0)).toDF("id", "v", "host_bucket"), 1L)
    assert(sink.read(spark).collect().map(_.toSeq).toSet == before)
  }

  test("layout guard: opening a table with the wrong bucketCol fails loudly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("eoslg").toString
    val flat = new ExactlyOnceSink(dir)
    flat.write(Seq((1, "a")).toDF("id", "v"), 0L)
    // wrong-layout WRITER: refused before any data lands
    val wrong = new ExactlyOnceSink(dir, bucketCol = Some("host_bucket"))
    intercept[IllegalStateException] {
      wrong.write(Seq((2, "b", 0)).toDF("id", "v", "host_bucket"), 1L)
    }
    assert(flat.committedEpochs() == Seq(0L))
    // wrong-layout READER: refused instead of silently dropping flat epochs
    intercept[IllegalStateException] { wrong.read(spark).count() }
    // right layout still works
    assert(flat.read(spark).count() == 1)
  }

  test("bucketed sink: a null bucket value is refused loudly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("eosnb").toString
    val sink = new ExactlyOnceSink(dir, bucketCol = Some("host_bucket"))
    val bad = Seq((1, "a", java.lang.Integer.valueOf(0)), (2, "b", null))
      .toDF("id", "v", "host_bucket")
    intercept[IllegalArgumentException] { sink.write(bad, 0L) }
  }

  test("schema evolution: a column added mid-stream unions with missing-as-null") {
    import spark.implicits._
    val dir = Files.createTempDirectory("eose").toString
    val sink = new ExactlyOnceSink(dir)
    sink.write(Seq((1, "a"), (2, "b")).toDF("id", "v"), 0L)
    // "restart" with a new writer version that adds a column
    val sink2 = new ExactlyOnceSink(dir)
    sink2.write(Seq((3, "c", 7L)).toDF("id", "v", "score"), 1L)

    val back = sink2.read(spark)
    assert(back.columns.toSeq == Seq("id", "v", "score"))
    val rows = back.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), if (r.isNullAt(2)) null else r.getLong(2)))
    assert(rows.toSeq == Seq((1, "a", null), (2, "b", null), (3, "c", 7L)))

    // incremental scan across the change also unions
    assert(sink2.readBetween(spark, -1L).count() == 3)
    // manifests record distinct fingerprints
    val m0 = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_manifest/epoch-0000000000.json")))
    val m1 = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_manifest/epoch-0000000001.json")))
    def md5Of(s: String) = """"schema_md5":\s*"([0-9a-f]+)"""".r.findFirstMatchIn(s).map(_.group(1))
    assert(md5Of(m0).isDefined && md5Of(m1).isDefined && md5Of(m0) != md5Of(m1))

    // compaction across the change unifies to the union schema and reads back
    sink2.compact(spark, targetPartitions = 1)
    assert(sink2.read(spark).count() == 3)
    assert(sink2.read(spark).columns.contains("score"))

    // the evolved flag stays sticky through compaction (in-flight readers
    // may hold pre-compaction listings) and resets only at GC time, once
    // the current view is schema-uniform
    def marker() = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_manifest/table.json")))
    assert(marker().contains("\"evolved\": true"))
    sink2.gcUnreferenced()
    assert(marker().contains("\"evolved\": false"))
    assert(sink2.read(spark).count() == 3) // snapshot is uniform: plain read is safe
  }

  test("time-range read prunes epochs from manifest stats; legacy epochs are kept") {
    import spark.implicits._
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val dir = Files.createTempDirectory("eosts").toString
    val sink = new ExactlyOnceSink(dir, statsCol = Some("ts"))
    // three epochs with disjoint hour bands
    sink.write(Seq((1, t(1000)), (2, t(1900))).toDF("id", "ts"), 0L)
    sink.write(Seq((3, t(5000)), (4, t(5900))).toDF("id", "ts"), 1L)
    sink.write(Seq((5, t(9000))).toDF("id", "ts"), 2L)

    // only the middle band: epoch 1 alone is listed
    val mid = sink.readTimeRange(spark, 4000L * 1000000L, 7000L * 1000000L)
    assert(mid.collect().map(_.getInt(0)).sorted.toSeq == Seq(3, 4))
    assert(mid.inputFiles.nonEmpty && mid.inputFiles.forall(_.contains("epoch=1")),
      mid.inputFiles.mkString(", "))
    // stats are a superset guard: residual filter still applies inside an epoch
    val part = sink.readTimeRange(spark, 5500L * 1000000L, 7000L * 1000000L)
    assert(part.collect().map(_.getInt(0)).toSeq == Seq(4))
    // disjoint range: schema-preserving empty without touching data
    assert(sink.readTimeRange(spark, 100L, 200L).count() == 0)

    // an epoch written by a stats-less sink (legacy) is conservatively kept
    val legacy = new ExactlyOnceSink(dir)
    legacy.write(Seq((6, t(20000))).toDF("id", "ts"), 3L)
    val wide = sink.readTimeRange(spark, 0L, 30000L * 1000000L)
    assert(wide.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3, 4, 5, 6))
    val narrow = sink.readTimeRange(spark, 4000L * 1000000L, 7000L * 1000000L)
    // legacy epoch listed (no stats ⇒ cannot prune) but filtered by rows
    assert(narrow.collect().map(_.getInt(0)).sorted.toSeq == Seq(3, 4))
    assert(narrow.inputFiles.exists(_.contains("epoch=3")))

    // compaction records the stats envelope; pruning still works after
    sink.compact(spark, targetPartitions = 1)
    val cm = new String(Files.readAllBytes(java.nio.file.Paths.get(
      s"$dir/_manifest/compact-0000000003.json")))
    // epoch 3 had no stats, so the snapshot must NOT claim an envelope
    assert(!cm.contains("\"stats\""), cm)
    assert(sink.readTimeRange(spark, 4000L * 1000000L, 7000L * 1000000L)
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(3, 4))

    // a fully-stats'd table's compaction DOES record the envelope
    val dir2 = Files.createTempDirectory("eosts2").toString
    val sink2 = new ExactlyOnceSink(dir2, statsCol = Some("ts"))
    sink2.write(Seq((1, t(1000))).toDF("id", "ts"), 0L)
    sink2.write(Seq((2, t(2000))).toDF("id", "ts"), 1L)
    sink2.compact(spark, targetPartitions = 1)
    val cm2 = new String(Files.readAllBytes(java.nio.file.Paths.get(
      s"$dir2/_manifest/compact-0000000001.json")))
    assert(cm2.replaceAll("\\s", "").contains("\"min_us\":" + (1000L * 1000000L)), cm2)
    assert(sink2.readTimeRange(spark, 0L, 1500L * 1000000L).count() == 1)
    assert(sink2.readTimeRange(spark, 3000L * 1000000L, 4000L * 1000000L).count() == 0)
  }

  test("bucket × time pruning compose in one read; describe() surfaces the manifests") {
    import spark.implicits._
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val dir = Files.createTempDirectory("eosbt").toString
    val sink = new ExactlyOnceSink(dir, bucketCol = Some("hb"), statsCol = Some("ts"))
    // epoch 0: bucket 0 early; epoch 1: bucket 0 late; epoch 2: bucket 1 late
    sink.write(Seq((1, 0, t(1000))).toDF("id", "hb", "ts"), 0L)
    sink.write(Seq((2, 0, t(5000))).toDF("id", "hb", "ts"), 1L)
    sink.write(Seq((3, 1, t(5000))).toDF("id", "hb", "ts"), 2L)

    // bucket 0 AND late window: only epoch 1 listed
    val both = sink.read(spark, bucket = Some(0L),
      timeRange = Some((4000L * 1000000L, 6000L * 1000000L)))
    assert(both.collect().map(_.getInt(0)).toSeq == Seq(2))
    assert(both.inputFiles.nonEmpty && both.inputFiles.forall(f =>
      f.contains("epoch=1") && f.contains("hb=0")), both.inputFiles.mkString(", "))
    // time-only read on a bucketed sink still works (all bucket dirs)
    assert(sink.readTimeRange(spark, 4000L * 1000000L, 6000L * 1000000L)
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 3))

    val d = sink.describe(spark).orderBy("source").collect()
    assert(d.length == 3)
    assert(d.forall(_.getString(1) == "epoch"))
    assert(d.map(_.getLong(2)).toSeq == Seq(1L, 1L, 1L))
    assert(d.forall(r => r.getInt(4) == 1 && !r.isNullAt(5) && !r.isNullAt(6)))
    sink.compact(spark, targetPartitions = 1)
    val d2 = sink.describe(spark).collect()
    assert(d2.length == 1 && d2(0).getString(1) == "snapshot")
  }

  test("stats identity and durability: wrong statsCol fails loudly; a plain compactor preserves envelopes") {
    import spark.implicits._
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val dir = Files.createTempDirectory("eossi").toString
    val sink = new ExactlyOnceSink(dir, statsCol = Some("ts"))
    sink.write(Seq((1, t(1000), t(1))).toDF("id", "ts", "other_ts"), 0L)
    sink.write(Seq((2, t(5000), t(2))).toDF("id", "ts", "other_ts"), 1L)

    // pruning on a column the manifests were NOT recorded for is refused
    val wrong = new ExactlyOnceSink(dir, statsCol = Some("other_ts"))
    intercept[IllegalStateException] {
      wrong.readTimeRange(spark, 0L, 10L).collect()
    }

    // a maintenance process that opens the table WITHOUT statsCol must
    // not destroy the envelopes when it compacts
    new ExactlyOnceSink(dir).compact(spark, targetPartitions = 1)
    val cm = new String(Files.readAllBytes(java.nio.file.Paths.get(
      s"$dir/_manifest/compact-0000000001.json")))
    assert(cm.contains("\"stats\"") && cm.contains("\"col\": \"ts\""), cm)
    // and the statsCol reader still prunes off the snapshot
    assert(sink.readTimeRange(spark, 900L * 1000000L, 1100L * 1000000L).count() == 1)
    assert(sink.readTimeRange(spark, 8000L * 1000000L, 9000L * 1000000L).count() == 0)
  }

  test("commit log: reads never list or open per-epoch manifests; segments roll at the cap") {
    import spark.implicits._
    val dir = Files.createTempDirectory("eoslog").toString
    // tiny segment cap to exercise rolling; bucketed + stats to prove the
    // pruning metadata is served from the log too
    val sink = new ExactlyOnceSink(dir, bucketCol = Some("hb"), statsCol = Some("ts"),
      logSegCap = 3)
    (0L until 8L).foreach { e =>
      sink.write(Seq((e, e % 2, new java.sql.Timestamp(1000L * (e + 1) * 1000)))
        .toDF("id", "hb", "ts"), e)
    }
    // 8 entries at cap 3 -> segments 0..2 and head {first: 0, last: 2}
    val head = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_manifest/log-head.json")))
    assert(head.contains("\"first_seg\": 0") && head.contains("\"last_seg\": 2"), head)

    // the path-level bounded-reads assert: move EVERY per-epoch manifest
    // aside — a reader that listed `_manifest` or opened per-epoch JSONs
    // would now see nothing / crash; the log-backed reader is unaffected
    val stash = Files.createTempDirectory("eoslogstash")
    val moved = new java.io.File(s"$dir/_manifest").listFiles()
      .filter(_.getName.startsWith("epoch-")).toSeq
    assert(moved.size == 8)
    moved.foreach(f0 => Files.move(f0.toPath, stash.resolve(f0.getName)))

    assert(sink.committedEpochs() == (0L until 8L))
    assert(sink.read(spark).count() == 8)
    // bucket AND time pruning metadata come from the log bodies
    assert(sink.read(spark, bucket = Some(1L)).count() == 4)
    assert(sink.readTimeRange(spark, 1000L * 1000000L, 3000L * 1000000L).count() == 3)
    assert(sink.readBetween(spark, 4L).select("id").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(5L, 6L, 7L))
    assert(sink.describe(spark).count() == 8)

    // restore for the commit path (the manifests stay the commit record)
    moved.foreach(f0 => Files.move(stash.resolve(f0.getName), f0.toPath))

    // compaction truncates the chain to one fresh segment + GC drops the
    // old ones; reads stay exact throughout
    sink.compact(spark, targetPartitions = 1)
    val head2 = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_manifest/log-head.json")))
    assert(head2.contains("\"first_seg\": 3") && head2.contains("\"last_seg\": 3"), head2)
    assert(sink.gcUnreferenced() > 0)
    val segs = new java.io.File(s"$dir/_manifest").listFiles()
      .map(_.getName).filter(n => n.startsWith("log-") && n != "log-head.json").sorted
    assert(segs.toSeq == Seq("log-0000000003.json"), segs.mkString(", "))
    assert(sink.read(spark).count() == 8)
    assert(sink.read(spark, bucket = Some(0L)).count() == 4)

    // post-compaction appends keep working off the fresh chain
    sink.write(Seq((8L, 0L, new java.sql.Timestamp(9000L * 1000))).toDF("id", "hb", "ts"), 8L)
    assert(sink.read(spark).count() == 9)
    assert(sink.committedEpochs() == Seq(8L))
  }

  test("commit log: re-delivery heals a missing log entry") {
    import spark.implicits._
    val dir = Files.createTempDirectory("eosheal").toString
    val sink = new ExactlyOnceSink(dir, logSegCap = 3)
    (0L until 6L).foreach(e => sink.write(Seq((e, s"v$e")).toDF("id", "v"), e))
    // crash between manifest rename and log append, simulated by dropping
    // the tail entry: re-delivery of the same epoch repairs the index
    val segFiles = new java.io.File(s"$dir/_manifest").listFiles()
      .filter(_.getName.matches("log-\\d+\\.json")).sortBy(_.getName)
    val tail = segFiles.last
    val lines = new String(Files.readAllBytes(tail.toPath)).split('\n').toSeq
    assert(lines.exists(_.contains("\"epoch\": 5")))
    Files.write(tail.toPath, lines.filterNot(_.contains("\"epoch\": 5"))
      .mkString("\n").getBytes)
    // drop the Hadoop LocalFS checksum sidecar the out-of-band edit staled
    Files.deleteIfExists(tail.toPath.resolveSibling("." + tail.getName + ".crc"))
    assert(sink.committedEpochs() == (0L until 5L)) // index lost the epoch...
    sink.write(Seq((99L, "EVIL")).toDF("id", "v"), 5L) // ...re-delivery heals it
    assert(sink.committedEpochs() == (0L until 6L))
    // and the original epoch-5 data is untouched (the manifest was the commit)
    assert(sink.read(spark).where($"id" === 5L).select($"v").collect()
      .map(_.getString(0)).toSeq == Seq("v5"))
  }

  test("strict-rename crash: head, tail segment and marker read from their .tmp") {
    import spark.implicits._
    def rows(sink: ExactlyOnceSink) =
      sink.read(spark).select($"id", $"v").as[(Long, String)].collect().sorted.toSeq
    def expected(n: Long) = (0L until n).map(e => (e, s"v$e"))
    // 5 entries at cap 3: segment 0 is full, the tail segment 1 holds
    // epochs 3 and 4
    for (name <- Seq("log-head.json", "log-0000000001.json", "table.json")) {
      val dir = Files.createTempDirectory("eoscrash").toString
      val sink = new ExactlyOnceSink(dir, logSegCap = 3)
      (0L until 5L).foreach(e => sink.write(Seq((e, s"v$e")).toDF("id", "v"), e))
      // the state a crash inside writeAtomic's delete-then-rename branch
      // (stores whose rename refuses to overwrite) leaves: destination and
      // its checksum sidecar gone, the complete temp file beside them
      val m = java.nio.file.Paths.get(s"$dir/_manifest")
      Files.move(m.resolve(name), m.resolve(s".$name.tmp"))
      Files.deleteIfExists(m.resolve(s".$name.crc"))
      val reader = new ExactlyOnceSink(dir, logSegCap = 3)
      assert(reader.committedEpochs() == (0L until 5L), name)
      assert(rows(reader) == expected(5), name)
      reader.write(Seq((5L, "v5")).toDF("id", "v"), 5L)
      assert(reader.committedEpochs() == (0L until 6L), name)
      assert(rows(reader) == expected(6), name)
      assert(rows(new ExactlyOnceSink(dir)) == expected(6), name)
    }
  }

  test("per-bucket compaction: exact reads + pruning across interleaved writes, reruns, GC, and full compaction") {
    import spark.implicits._
    val dir = Files.createTempDirectory("eosbc").toString
    val sink = new ExactlyOnceSink(dir, bucketCol = Some("hb"), statsCol = Some("ts"),
      logSegCap = 4)
    val oracle = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]() // id, hb, sec
    var nextEpoch = 0L
    def wr(rows: (Long, Long, Long)*): Unit = {
      sink.write(rows.toSeq.map { case (i, b, s) => (i, b, new java.sql.Timestamp(s * 1000)) }
        .toDF("id", "hb", "ts"), nextEpoch)
      nextEpoch += 1; oracle ++= rows
    }
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"id").collect().map(_.getLong(0)).sorted.toSeq
    def checkAll(): Unit = {
      assert(ids(sink.read(spark)) == oracle.map(_._1).sorted.toSeq)
      (0L to 3L).foreach { b =>
        assert(ids(sink.read(spark, bucket = Some(b)))
          == oracle.filter(_._2 == b).map(_._1).sorted.toSeq, s"bucket $b")
      }
      val (lo, hi) = (1500L * 1000000L, 3500L * 1000000L)
      assert(ids(sink.readTimeRange(spark, lo, hi))
        == oracle.filter(r => r._3 * 1000000L >= lo && r._3 * 1000000L <= hi)
          .map(_._1).sorted.toSeq)
    }
    wr((1L, 0L, 1000L), (2L, 1L, 1000L))
    wr((3L, 1L, 2000L), (4L, 2L, 2000L))
    wr((5L, 0L, 3000L), (6L, 3L, 3000L))
    sink.compactBuckets(spark, 0 to 1)
    checkAll()
    // the pruned read serves bucket 1 from its snapshot ONLY — covered
    // epoch slices must not be listed
    val b1files = sink.read(spark, bucket = Some(1L)).inputFiles
    assert(b1files.nonEmpty && b1files.forall(_.contains("bcompact-")), b1files.mkString(", "))

    wr((7L, 1L, 4000L), (8L, 0L, 4000L))
    checkAll() // snapshot + post-snapshot epoch compose in one read
    sink.compactBuckets(spark, 1 to 3) // bucket 1 folds snap+new; 2..3 fresh
    checkAll()
    sink.compactBuckets(spark, 0 to 3) // re-run (resume replay analog)...
    sink.compactBuckets(spark, 0 to 3) // ...and again: idempotent at same hi
    checkAll()
    assert(sink.describe(spark).where($"kind" === "bucket-snapshot").count() == 4)

    // incremental + time-travel reads ignore bucket snapshots: exact
    // per-epoch history stays intact
    assert(ids(sink.readBetween(spark, 1L)) == Seq(5L, 6L, 7L, 8L))
    assert(ids(sink.readAsOf(spark, 1L)) == Seq(1L, 2L, 3L, 4L))

    // GC drops the superseded older bucket snapshots, keeps the active
    assert(sink.gcUnreferenced() >= 2)
    checkAll()

    // a full compaction retires every bucket snapshot
    sink.compact(spark, targetPartitions = 1)
    sink.gcUnreferenced()
    checkAll()
    val leftover = new java.io.File(s"$dir/_manifest").listFiles()
      .map(_.getName).filter(_.startsWith("bcompact-"))
    assert(leftover.isEmpty, leftover.mkString(", "))
    val leftoverData = new java.io.File(s"$dir/data").listFiles()
      .map(_.getName).filter(_.startsWith("bcompact-"))
    assert(leftoverData.isEmpty, leftoverData.mkString(", "))
  }

  test("gcUnreferenced from a plain maintenance instance preserves the recorded layout") {
    import spark.implicits._
    val dir = Files.createTempDirectory("eosgcl").toString
    val sink = new ExactlyOnceSink(dir, bucketCol = Some("hb"))
    sink.write(Seq((1, "a", 0)).toDF("id", "v", "hb"), 0L)
    sink.write(Seq((2, "b", 1)).toDF("id", "v", "hb"), 1L)
    sink.compact(spark, targetPartitions = 1)
    // the documented maintenance shape: a plain instance runs GC
    assert(new ExactlyOnceSink(dir).gcUnreferenced() == 2)
    // marker must still record the bucketed layout...
    val marker = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/_manifest/table.json")))
    assert(marker.contains("\"bucket_col\": \"hb\""), marker)
    // ...so the correctly-configured sink keeps working
    assert(sink.read(spark, bucket = Some(1L)).count() == 1)
    // and a flat open still fails the guard instead of mis-reading
    intercept[IllegalStateException] { new ExactlyOnceSink(dir).read(spark) }
  }
}
