package graft.tables

import graft.SparkSpec

/** The shared bucket-count sidecar: a missing sidecar reads as None, a
  * damaged one fails loudly, and a rewrite replaces the value. */
class BucketMetaSpec extends SparkSpec {

  test("bucket sidecar: round trip, missing vs damaged, rewrite, partition values") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bucketmeta")
    val d = dir.toString
    assert(BucketMeta.read(spark, d) === None)
    assert(BucketMeta.read(spark, s"$d/absent") === None)
    assert(BucketMeta.partitionValues(spark, s"$d/absent", "bucket") === Nil)
    BucketMeta.write(spark, d, "bucket", 4)
    assert(BucketMeta.read(spark, d) === Some(("bucket", 4)))
    BucketMeta.write(spark, d, "bucket", 9)
    assert(BucketMeta.read(spark, d) === Some(("bucket", 9)))
    java.nio.file.Files.createDirectories(dir.resolve("bucket=3"))
    java.nio.file.Files.createDirectories(dir.resolve("other=1"))
    assert(BucketMeta.partitionValues(spark, d, "bucket") === Seq("3"))
    Seq("", "bucket", "bucket=", "bucket=four", "bucket=0", "bucket=-2", "=4", "a=1=2")
      .foreach { text =>
        java.nio.file.Files.write(dir.resolve(BucketMeta.File), text.getBytes("UTF-8"))
        java.nio.file.Files.deleteIfExists(dir.resolve(s".${BucketMeta.File}.crc"))
        intercept[IllegalStateException](BucketMeta.read(spark, d))
      }
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
