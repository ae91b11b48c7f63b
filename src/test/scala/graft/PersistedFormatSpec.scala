package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.model.ImageRecord
import graft.ops.{AnnIndex, ContainmentIndex, DedupIndex, SketchIndex}
import graft.seen.CuckooSeen
import graft.table.TableIO

/** Pins the on-disk form of every persisted meta: the four index metas,
  * the cuckoo sketch meta and the table's snapshot, `runids.json` and
  * `version-hint.txt`. The strings below were written by the build
  * before the persisted-state code moved into `graft.table.StateFiles`;
  * they must read back to the same values (legacy shapes included), and
  * the same small inputs must write them byte for byte. The dedup index
  * pins are those of the `oph-densified-v3` layout, with the parquet
  * footer schema of its signature delta, its packed list length and no
  * dictionary page; the `oph-densified-v1` and `-v2` metas are kept as
  * legacy shapes that read back and are refused. The image
  * table's data files are pinned to zstd column chunks, whichever path
  * wrote them: a commit, a compaction or a streaming micro-batch; a
  * commit's data file and seen delta to their footer schemas, and to
  * the columns a schema-less read of their dirs infers. */
class PersistedFormatSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val pinned: Map[String, String] = Map(
    "dedup-init.json" ->
      """{"kind":"char","k":5,"numHashes":64,"bands":16,"docs":0,"deltas":[],"scheme":"oph-densified-v3","runIds":[]}""",
    "dedup-append.json" ->
      """{"kind":"char","k":5,"numHashes":64,"bands":16,"docs":2,"deltas":["sig/v00001"],"scheme":"oph-densified-v3","runIds":["r1"]}""",
    // the footer schema of each file of that append's signature delta:
    // one row per document, its 16 packed band keys in one list of 12
    "dedup-sig-schema.txt" ->
      """message spark_schema {
      |  required int64 id;
      |  optional group bands (LIST) {
      |    repeated group list {
      |      required int64 element;
      |    }
      |  }
      |}
      |""".stripMargin,
    "sketch-init.json" ->
      """{"maxDist":4,"docs":0,"deltas":[],"runIds":[]}""",
    "sketch-append.json" ->
      """{"maxDist":4,"docs":2,"deltas":["chunk/v00001"],"runIds":["r1"]}""",
    "ann-build.json" ->
      """{"dim":2,"nlist":2,"docs":2,"deltas":["cells/v00001"],"runIds":[]}""",
    "ann-append.json" ->
      """{"dim":2,"nlist":2,"docs":3,"deltas":["cells/v00001","cells/v00002"],"runIds":["r1"]}""",
    "cont-init.json" ->
      """{"n":4,"freqCap":64,"pct":90,"minSize":4,"docs":0,"deltas":[],"runIds":[],"stopsVer":1}""",
    "cont-append.json" ->
      """{"n":4,"freqCap":64,"pct":90,"minSize":4,"docs":2,"deltas":["v00001"],"runIds":["r1"],"stopsVer":1}""",
    "cuckoo-meta.json" ->
      """{
      |  "parts" : 2,
      |  "bucketBytes" : 8192,
      |  "covered" : [ "seen/v00001", "seen/v00002" ]
      |}""".stripMargin,
    "cuckoo-meta-empty.json" ->
      """{
      |  "parts" : 1,
      |  "bucketBytes" : 8,
      |  "covered" : [ ]
      |}""".stripMargin,
    "table-v1.json" ->
      """{
      |  "version" : 1,
      |  "dataDirs" : [ "data/v00001" ],
      |  "seenDirs" : [ "seen/v00001" ],
      |  "partitions" : [ {
      |    "site" : "s",
      |    "year" : 2024,
      |    "month" : 1,
      |    "rows" : 1,
      |    "bytes" : 3
      |  }, {
      |    "site" : "s",
      |    "year" : 2024,
      |    "month" : 2,
      |    "rows" : 1,
      |    "bytes" : 2
      |  } ],
      |  "totalRows" : 2,
      |  "lineage" : {
      |    "runId" : "run-1",
      |    "parentVersion" : 0,
      |    "periods" : [ "s/2024/1", "s/2024/2" ],
      |    "note" : "note"
      |  },
      |  "runIds" : [ ],
      |  "cumulative" : false
      |}""".stripMargin,
    "table-v2.json" ->
      """{
      |  "version" : 2,
      |  "dataDirs" : [ "data/v00001" ],
      |  "seenDirs" : [ "seen/v00001" ],
      |  "partitions" : [ ],
      |  "totalRows" : 2,
      |  "lineage" : {
      |    "runId" : "run-2",
      |    "parentVersion" : 1,
      |    "periods" : [ ],
      |    "note" : ""
      |  },
      |  "runIds" : [ ],
      |  "cumulative" : false
      |}""".stripMargin,
    "table-v3.json" ->
      """{
      |  "version" : 3,
      |  "dataDirs" : [ "data/v00003" ],
      |  "seenDirs" : [ "seen/v00003" ],
      |  "partitions" : [ {
      |    "site" : "s",
      |    "year" : 2024,
      |    "month" : 1,
      |    "rows" : 1,
      |    "bytes" : 3
      |  }, {
      |    "site" : "s",
      |    "year" : 2024,
      |    "month" : 2,
      |    "rows" : 1,
      |    "bytes" : 2
      |  } ],
      |  "totalRows" : 2,
      |  "lineage" : {
      |    "runId" : "compact-v00003",
      |    "parentVersion" : 2,
      |    "periods" : [ ],
      |    "note" : "compaction: 1 data dirs, 1 seen dirs -> 1 each"
      |  },
      |  "runIds" : [ ],
      |  "cumulative" : true
      |}""".stripMargin,
    "table-runids-1.json" ->
      """["run-1"]""",
    "table-runids-2.json" ->
      """["run-1","run-2"]""",
    "table-runids-3.json" ->
      """["run-1","run-2","compact-v00003"]""",
    // the footer schemas of a commit's image data file (the partition
    // columns live in the path) and of its seen delta
    "table-data-schema.txt" ->
      """message spark_schema {
      |  optional binary image_id (STRING);
      |  optional binary bytes;
      |  required int32 w;
      |  required int32 h;
      |  optional binary fmt (STRING);
      |  optional binary caption (STRING);
      |  required int64 phash;
      |  optional binary url (STRING);
      |  required int64 urlHash;
      |  required int64 vtimeMs;
      |  required int32 attempts;
      |}
      |""".stripMargin,
    "table-seen-schema.txt" ->
      """message spark_schema {
      |  required int64 urlHash;
      |}
      |""".stripMargin,
    // what a schema-less `spark.read.parquet` of a data dir and of a seen
    // dir infers: the columns of the files Spark's own writer wrote
    "table-data-read.txt" ->
      ("image_id string, bytes binary, w int, h int, fmt string, " +
        "caption string, phash bigint, url string, urlHash bigint, " +
        "vtimeMs bigint, attempts int, site string, year int, month int"),
    "table-seen-read.txt" ->
      "urlHash bigint",
    "table-hint-1.txt" ->
      """1""",
    "table-hint-3.txt" ->
      """3"""
  )

  /** Metas of the previous signature layouts, by scheme:
    * `oph-densified-v1` stored one `(id, bandHash)` row per band key,
    * `oph-densified-v2` one `(id, bands)` row per document with 64-bit
    * keys. */
  private val legacy: Map[String, Map[String, String]] =
    Seq("oph-densified-v1", "oph-densified-v2").map(scheme => scheme -> Map(
      "dedup-init.json" ->
        s"""{"kind":"char","k":5,"numHashes":64,"bands":16,"docs":0,"deltas":[],"scheme":"$scheme","runIds":[]}""",
      "dedup-append.json" ->
        s"""{"kind":"char","k":5,"numHashes":64,"bands":16,"docs":2,"deltas":["sig/v00001"],"scheme":"$scheme","runIds":["r1"]}""")).toMap

  private def tmp(): Path = Files.createTempDirectory("graft-format")

  private def put(dir: Path, rel: String, content: String): Unit = {
    Files.createDirectories(dir.resolve(rel).getParent)
    Files.writeString(dir.resolve(rel), content)
  }

  private def metaDir(file: String, content: String): String = {
    val d = tmp()
    put(d, file, content)
    d.toString
  }

  test("pinned index and sketch metas read back to their values") {
    assert(DedupIndex.readMeta(metaDir("index-meta.json",
        pinned("dedup-append.json"))).get ===
      DedupIndex.IndexMeta("char", 5, 64, 16, 2L, Seq("sig/v00001"),
        DedupIndex.SigScheme, Seq("r1")))
    assert(SketchIndex.readMeta(metaDir("sketch-meta.json",
        pinned("sketch-append.json"))).get ===
      SketchIndex.Meta(4, 2L, Seq("chunk/v00001"), Seq("r1")))
    assert(AnnIndex.readMeta(metaDir("ann-meta.json",
        pinned("ann-append.json"))).get ===
      AnnIndex.Meta(2, 2, 3L, Seq("cells/v00001", "cells/v00002"), Seq("r1")))
    assert(ContainmentIndex.readMeta(metaDir("cont-meta.json",
        pinned("cont-append.json"))).get ===
      ContainmentIndex.Meta(4, 64L, 90, 4L, 2L, Seq("v00001"), Seq("r1"), 1))
    assert(CuckooSeen.readMeta(metaDir("meta.json",
        pinned("cuckoo-meta.json"))).get ===
      CuckooSeen.CuckooMeta(2, 8192, Seq("seen/v00001", "seen/v00002")))
    assert(CuckooSeen.readMeta(metaDir("meta.json",
        pinned("cuckoo-meta-empty.json"))).get ===
      CuckooSeen.CuckooMeta(1, 8, Nil))
  }

  test("legacy shapes read back: no scheme stamp, null runIds") {
    val unstamped = pinned("dedup-append.json")
      .replace("\"scheme\":\"" + DedupIndex.SigScheme + "\",", "")
    assert(unstamped !== pinned("dedup-append.json"))
    val m = DedupIndex.readMeta(metaDir("index-meta.json", unstamped)).get
    assert(m.scheme === null && m.docs === 2L && m.runIds === Seq("r1"))
    val nullIds = Seq(
      "index-meta.json" -> pinned("dedup-append.json"),
      "sketch-meta.json" -> pinned("sketch-append.json"),
      "ann-meta.json" -> pinned("ann-append.json"),
      "cont-meta.json" -> pinned("cont-append.json"))
      .map { case (f, s) => f -> s.replace("\"runIds\":[\"r1\"]",
        "\"runIds\":null") }
    nullIds.foreach { case (_, s) => assert(s.contains("\"runIds\":null")) }
    val metas: Seq[graft.table.StateFiles.ChainMeta[_]] = nullIds.map {
      case (f, s) =>
      val d = metaDir(f, s)
      f match {
        case "index-meta.json" => DedupIndex.readMeta(d).get
        case "sketch-meta.json" => SketchIndex.readMeta(d).get
        case "ann-meta.json" => AnnIndex.readMeta(d).get
        case _ => ContainmentIndex.readMeta(d).get
      }
    }
    // the Scala module reads a null collection as empty
    metas.foreach { m =>
      assert(Option(m.runIds).forall(_.isEmpty) && m.committedRunIds.isEmpty,
        m)
      assert(m.docs === 2L || m.docs === 3L, m)
    }
  }

  for ((scheme, metas) <- legacy.toSeq.sortBy(_._1))
  test(s"$scheme index metas read back; append, probePairs and compact refuse them with the rebuild message") {
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "text")
    assert(DedupIndex.SigScheme !== scheme)
    for ((name, json) <- metas) {
      val dir = metaDir("index-meta.json", json)
      val m = DedupIndex.readMeta(dir).get
      assert(m.scheme === scheme, name)
      assert((m.docs, m.deltas.size, m.committedRunIds) === (
        if (name == "dedup-init.json") (0L, 0, Set.empty[String])
        else (2L, 1, Set("r1"))), name)
      val refusals = Seq[(String, () => Any)](
        "append" -> (() => DedupIndex.append(docs, "id", "text", dir, "r2")),
        "probePairs" -> (() =>
          DedupIndex.probePairs(docs, docs, "id", "text", dir)),
        "compact" -> (() => DedupIndex.compact(dir)))
      refusals.foreach { case (call, f) =>
        val e = intercept[IllegalStateException](f())
        assert(e.getMessage.contains(scheme) &&
          e.getMessage.contains("rebuild it with write()"), s"$name $call")
      }
      assert(Files.readString(Paths.get(dir, "index-meta.json")) === json)
    }
  }

  test("dedup signature deltas carry no dictionary page: append, compact and deleteIds, repeated keys included") {
    import spark.implicits._
    // 40 documents over two texts: the stored keys repeat, which a
    // dictionary would encode
    val docs = (1L to 40L).map(i => (i, "the quick brown fox jumps over " +
      (if (i % 2 == 0) "the lazy dog" else "a sleeping cat"))).toDF("id", "text")
    val d = tmp().resolve("dedup").toString
    def dictionaryFree(step: String): Unit = {
      val m = DedupIndex.readMeta(d).get
      val files = m.deltas.flatMap(delta =>
        ParquetFooters.footers(Paths.get(d, delta))(_.getBlocks.asScala
          .flatMap(_.getColumns.asScala).map(c => c.getPath.toDotString ->
            (c.hasDictionaryPage || c.getEncodings.asScala.exists(_.usesDictionary)))))
      assert(files.nonEmpty, step)
      files.foreach { case (f, chunks) =>
        assert(chunks.nonEmpty && !chunks.exists(_._2), s"$step: $f $chunks")
      }
    }
    DedupIndex.write(docs.filter($"id" <= 20), "id", "text", d)
    DedupIndex.append(docs.filter($"id" > 20), "id", "text", d)
    dictionaryFree("append")
    DedupIndex.compact(d)
    dictionaryFree("compact")
    DedupIndex.deleteIds(Seq(3L).toDF("id"), d)
    dictionaryFree("deleteIds")
    assert(DedupIndex.readMeta(d).get.docs === 39L)
  }

  test("pinned table files read back, legacy embedded runIds included") {
    val t = tmp()
    put(t, "snapshots/v00001.json", pinned("table-v1.json"))
    put(t, "snapshots/v00002.json", pinned("table-v2.json"))
    put(t, "snapshots/v00003.json", pinned("table-v3.json"))
    put(t, "snapshots/runids.json", pinned("table-runids-3.json"))
    put(t, "version-hint.txt", pinned("table-hint-3.txt"))
    val dir = t.toString
    assert(TableIO.currentVersion(dir) === Some(3))
    val v1 = TableIO.readSnapshot(dir, 1)
    assert(v1 === TableIO.Snapshot(1, Seq("data/v00001"), Seq("seen/v00001"),
      Seq(TableIO.PartitionMeta("s", 2024, 1, 1L, 3L),
        TableIO.PartitionMeta("s", 2024, 2, 1L, 2L)),
      2L, TableIO.Lineage("run-1", 0, Seq("s/2024/1", "s/2024/2"), "note"),
      Nil, cumulative = false))
    val v3 = TableIO.currentSnapshot(dir).get
    assert(v3.cumulative && v3.lineage.runId === "compact-v00003" &&
      v3.dataDirs === Seq("data/v00003") && v3.lineage.parentVersion === 2)
    assert(TableIO.committedRunIds(dir) ===
      Set("run-1", "run-2", "compact-v00003"))

    // a table written before the runids.json sidecar: every snapshot
    // embeds the cumulative id list
    val legacy = tmp()
    put(legacy, "snapshots/v00001.json", pinned("table-v1.json").replace(
      "\"runIds\" : [ ]", "\"runIds\" : [ \"run-0\", \"run-1\" ]"))
    put(legacy, "version-hint.txt", pinned("table-hint-1.txt"))
    assert(TableIO.currentSnapshot(legacy.toString).get.runIds ===
      Seq("run-0", "run-1"))
    assert(TableIO.committedRunIds(legacy.toString) === Set("run-0", "run-1"))
  }

  test("the same small inputs write the pinned files byte for byte") {
    import spark.implicits._
    val root = tmp()
    def same(name: String, file: Path): Unit =
      assert(Files.readString(file) === pinned(name), name)
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "lorem ipsum dolor sit amet consectetur adipiscing"))
      .toDF("id", "text")

    val d = root.resolve("dedup").toString
    DedupIndex.init(d)
    same("dedup-init.json", Paths.get(d, "index-meta.json"))
    DedupIndex.append(docs, "id", "text", d, "r1")
    same("dedup-append.json", Paths.get(d, "index-meta.json"))
    val footers = ParquetFooters.footers(Paths.get(d, "sig", "v00001")) { m =>
      val chunks = m.getBlocks.asScala.flatMap(_.getColumns.asScala)
      (m.getFileMetaData.getSchema.toString,
        m.getBlocks.asScala.map(_.getRowCount).sum,
        chunks.filter(_.getPath.toDotString == "bands.list.element")
          .map(_.getValueCount).sum)
    }.map(_._2)
    assert(footers.map(_._2).sum === 2L, "one row per document")
    assert(footers.map(_._3).sum === 2L * 12,
      "16 band keys of 48 bits in 12 longs per document")
    footers.foreach { case (schema, _, _) =>
      assert(schema === pinned("dedup-sig-schema.txt"), "dedup-sig-schema.txt")
    }

    val s = root.resolve("sketch").toString
    SketchIndex.init(s, 4)
    same("sketch-init.json", Paths.get(s, "sketch-meta.json"))
    SketchIndex.append(Seq((1L, 7L), (2L, 99L)).toDF("id", "sim"),
      "id", "sim", s, "r1")
    same("sketch-append.json", Paths.get(s, "sketch-meta.json"))

    val a = root.resolve("ann").toString
    AnnIndex.buildFrozen(
      Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f))).toDF("cid", "cv"),
      a, Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    same("ann-build.json", Paths.get(a, "ann-meta.json"))
    AnnIndex.append(Seq((3L, Seq(1.0f, 1.0f))).toDF("cid", "cv"), a, "r1")
    same("ann-append.json", Paths.get(a, "ann-meta.json"))

    val c = root.resolve("cont").toString
    ContainmentIndex.init(c)
    same("cont-init.json", Paths.get(c, "cont-meta.json"))
    ContainmentIndex.append(docs, "id", "text", c, "r1")
    same("cont-append.json", Paths.get(c, "cont-meta.json"))

    val k = root.resolve("cuckoo").toString
    CuckooSeen.writeMeta(k,
      CuckooSeen.CuckooMeta(2, 8192, Seq("seen/v00001", "seen/v00002")))
    same("cuckoo-meta.json", Paths.get(k, "meta.json"))
    CuckooSeen.writeMeta(k, CuckooSeen.CuckooMeta(1, 8))
    same("cuckoo-meta-empty.json", Paths.get(k, "meta.json"))

    val t = root.resolve("table").toString
    val imgs = Seq(
      ImageRecord("i1", Array[Byte](1, 2, 3), 4, 5, "png", "cap", 77L, "s",
        2024, 1, "http://x/1", 11L, 100L, 1),
      ImageRecord("i2", Array[Byte](4, 5), 6, 7, "jpeg", null, 78L, "s",
        2024, 2, "http://x/2", 22L, 200L, 2)).toDS()
    TableIO.commit(spark, t, imgs, Seq(11L, 22L).toDS(), "run-1",
      Seq("s/2024/1", "s/2024/2"), "note")
    same("table-v1.json", Paths.get(t, "snapshots", "v00001.json"))
    same("table-runids-1.json", Paths.get(t, "snapshots", "runids.json"))
    same("table-hint-1.txt", Paths.get(t, "version-hint.txt"))
    TableIO.commit(spark, t, spark.emptyDataset[ImageRecord],
      spark.emptyDataset[Long], "run-2", Nil)
    same("table-v2.json", Paths.get(t, "snapshots", "v00002.json"))
    same("table-runids-2.json", Paths.get(t, "snapshots", "runids.json"))
    TableIO.compact(spark, t)
    same("table-v3.json", Paths.get(t, "snapshots", "v00003.json"))
    same("table-runids-3.json", Paths.get(t, "snapshots", "runids.json"))
    same("table-hint-3.txt", Paths.get(t, "version-hint.txt"))
  }

  test("image data files are zstd: a commit's, a compaction's and a streaming micro-batch commit's") {
    import spark.implicits._
    import graft.streaming.StreamingCrawl
    def zstdOnly(dir: String, rel: String): Unit = {
      val files = ParquetFooters.codecs(Paths.get(dir, rel))
      assert(files.nonEmpty, s"no data file under $rel")
      files.foreach { case (f, codecs) =>
        assert(codecs === Set("ZSTD"), s"$rel: $f")
      }
    }
    val t = tmp().toString
    TableIO.commit(spark, t, Seq(
      ImageRecord("i1", Array.tabulate[Byte](64)(_.toByte), 8, 8, "bmp",
        "cap", 77L, "s", 2024, 1, "http://x/1", 11L, 100L, 1)).toDS(),
      Seq(11L).toDS(), "run-1", Seq("s/2024/1"))
    zstdOnly(t, "data/v00001")
    TableIO.compact(spark, t)
    zstdOnly(t, "data/v00002")

    val s = tmp().toString
    StreamingCrawl.commitOutcomesBatch(s, "stream")(Seq(
      StreamingCrawl.StreamedOutcome("s", 2024, 2, 0, "i2", "http://x/2",
        22L, "x", 200L, 1, graft.model.CrawlStatus.Success,
        Array[Byte](4, 5), 6, 7, "png", "cap", 78L)).toDS(), 0L)
    assert(TableIO.currentSnapshot(s).get.lineage.runId ===
      "stream-batch-0")
    zstdOnly(s, "data/v00001")
  }

  test("a commit's data file and seen delta: footer schemas, zstd chunks, no _SUCCESS, .crc or _temporary entry, and the columns a schema-less read infers") {
    import spark.implicits._
    val t = tmp().toString
    val imgs = Seq(
      ImageRecord("i1", Array[Byte](1, 2, 3), 4, 5, "png", "cap", 77L, "s",
        2024, 1, "http://x/1", 11L, 100L, 1),
      ImageRecord("i2", null, 6, 7, "jpeg", null, 78L, "s",
        2024, 2, "http://x/2", 22L, 200L, 2))
    TableIO.commit(spark, t, imgs.toDS(), Seq(11L, 22L).toDS(), "run-1", Nil)
    TableIO.compact(spark, t)
    for (rel <- Seq("data/v00001", "seen/v00001", "data/v00002",
        "seen/v00002")) {
      val pin = pinned(if (rel.startsWith("data")) "table-data-schema.txt"
        else "table-seen-schema.txt")
      val files = ParquetFooters.footers(Paths.get(t, rel))(m =>
        (m.getFileMetaData.getSchema.toString, m.getBlocks.asScala
          .flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet))
      assert(files.nonEmpty, rel)
      files.foreach { case (f, (schema, codecs)) =>
        assert(schema === pin, s"$rel: $f")
        assert(codecs === Set("ZSTD"), s"$rel: $f")
      }
      val walk = Files.walk(Paths.get(t, rel))
      val names =
        try walk.iterator.asScala.map(_.getFileName.toString).toList
        finally walk.close()
      assert(!names.exists(n => n == "_SUCCESS" || n.endsWith(".crc") ||
        n == "_temporary"), s"$rel: $names")
    }
    assert(!Files.exists(Paths.get(t, "_staging")))

    def inferred(path: String): String = spark.read.parquet(path).schema
      .fields.map(f => s"${f.name} ${f.dataType.simpleString}").mkString(", ")
    assert(inferred(s"$t/data/v00001") === pinned("table-data-read.txt"))
    assert(inferred(s"$t/seen/v00001") === pinned("table-seen-read.txt"))
    // the same rows through Spark's own writer read back the same way
    val spark1 = tmp().toString
    imgs.toDS().write.partitionBy("site", "year", "month")
      .parquet(s"$spark1/data")
    Seq(11L, 22L).toDS().toDF("urlHash").write.parquet(s"$spark1/seen")
    assert(inferred(s"$spark1/data") === pinned("table-data-read.txt"))
    assert(inferred(s"$spark1/seen") === pinned("table-seen-read.txt"))
  }
}
