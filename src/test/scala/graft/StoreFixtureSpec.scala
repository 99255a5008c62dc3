package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import graft.sources.{StoreFixture, TsdbStore}

/** The derived `/tmp` fixtures rebuild in place when their source
  * changes. The evolved manifest fixture is the hard case: its build
  * declares a column, so a rebuild over the stale store would find the
  * column already declared and refuse. */
class StoreFixtureSpec extends SparkSpec {

  test("a regenerated source rebuilds the evolved manifest fixture in place") {
    // a unique basename: the fixture path keys on it, so the build
    // never meets another run's store
    val name = s"graft_fixture_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val sf = new File(tempDir("graft_fixture_src"), name)
    Files.createDirectories(sf.toPath)
    val src = new File(sf, "events.parquet")
    Files.copy(new File(Sf, "events.parquet").toPath, src.toPath,
      StandardCopyOption.COPY_ATTRIBUTES)
    src.setWritable(true)
    val tgt = StoreFixture.manifestStoreEvolved(spark, sf.toString)
    try {
      assert(new File(tgt).getName == name, tgt)
      val first = TsdbStore.readTable(spark, tgt, "base")
      assert(first.columns.contains("quality"))
      val n = first.count()
      // regenerate the source: same rows, a new modification time
      assert(src.setLastModified(src.lastModified() + 60000L))
      assert(StoreFixture.manifestStoreEvolved(spark, sf.toString) == tgt)
      val rebuilt = TsdbStore.readTable(spark, tgt, "base")
      assert(rebuilt.columns.contains("quality") && rebuilt.count() == n)
      // built from scratch: the rebuilt store's history is one build,
      // not a second build stacked on the stale one
      assert(TsdbStore.history(spark, tgt).collect().map(_.getAs[String]("op")).toSeq ==
        Seq("upsertIncremental", "addColumn", "ingest"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new File(tgt))
  }
}
