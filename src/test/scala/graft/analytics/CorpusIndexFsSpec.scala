package graft.analytics

import graft.SparkTestBase

/** A wrapper-scheme local filesystem: byte-for-byte RawLocalFileSystem,
  * but addressed as `graftfs:/...` — so anything that resolves paths
  * through `java.io.File` (or through the DEFAULT filesystem) instead of
  * through the path's OWN Hadoop FileSystem provably fails against it.
  * Registered per-test via `fs.graftfs.impl`. */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}

/** Pins 4f33e46 (CorpusIndex.read discovers band dirs through the
  * index's own FileSystem) against a NON-default scheme: the prior
  * `java.io.File` listing passed the existing local-path round-trip spec
  * too, so that spec could not catch a regression back to it — a
  * `graftfs:/` index is only readable through the Hadoop FS API, exactly
  * like the hdfs:// / s3:// index of the 100 TB lake pattern. */
class CorpusIndexFsSpec extends SparkTestBase {

  test("CorpusIndex round-trips through a non-default filesystem " +
       "scheme: write, param recovery, and probe equality all resolve " +
       "through the path's own FileSystem, never java.io") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq((10L, base),
      (30L, "some totally separate corpus document about other things"))
      .toDF("doc_id", "text")
    val shard = Seq((101L, base),
      (103L, "a wholly new document sharing no phrasing with anything"))
      .toDF("doc_id", "text")
    val idx = CorpusIndex.build(corpus, "doc_id", "text",
      n = 2, numHashes = 6, bandSize = 3)
    val local = java.nio.file.Files.createTempDirectory("graft_cidx_fs")
    val uri = "graftfs:" + local.toString
    try {
      idx.write(uri)
      // the directory exists on disk, but discovery must have gone
      // through the graftfs scheme — java.io.File cannot list `uri`
      assert(!new java.io.File(uri).exists(),
        "fixture sanity: the scheme URI must be opaque to java.io")
      val loaded = CorpusIndex.read(spark, uri)
      assert((loaded.n, loaded.numHashes, loaded.bandSize) === ((2, 6, 3)),
        "sketch params must be recovered from the scheme path's listing")
      val direct = Dedup.incrementalDedup(shard, "doc_id", "text",
        idx.fingerprints, idx.bands, idx.n, idx.numHashes,
        idx.bandSize)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val viaDisk = Dedup.incrementalDedup(shard, "doc_id", "text",
        loaded.fingerprints, loaded.bands, loaded.n, loaded.numHashes,
        loaded.bandSize)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(viaDisk === direct,
        "an index reloaded through the wrapper scheme must screen " +
          "identically to the in-memory one")
    } finally {
      val walk = java.nio.file.Files.walk(local)
      val all = try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq
      } finally walk.close()
      all.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
