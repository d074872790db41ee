package graft.tables

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import graft.SparkTestBase

/** The stored-state cache must be keyed by the input fixture dir's
  * files (path, size, mtime), re-read on every call: a fixture change
  * under the same path must produce a different cache root, so Bench's
  * `_stored` twins do not serve state derived from older inputs. */
class StoredStateSpec extends SparkTestBase {

  private def mkFixture(): java.nio.file.Path = {
    val d = Files.createTempDirectory("stored-state-fixture")
    Files.writeString(d.resolve("a.parquet"), "aaaa")
    Files.createDirectory(d.resolve("sub"))
    Files.writeString(d.resolve("sub/b.parquet"), "bbbb")
    d
  }

  test("input key is stable for an unchanged fixture tree") {
    val d = mkFixture()
    assert(StoredState.computeInputKey(d.toString) ===
      StoredState.computeInputKey(d.toString))
  }

  test("input key changes when a fixture file's mtime, size or name changes") {
    val d = mkFixture()
    val k0 = StoredState.computeInputKey(d.toString)
    // mtime bump only (size and content identical)
    val f = d.resolve("sub/b.parquet")
    Files.setLastModifiedTime(f,
      FileTime.fromMillis(Files.getLastModifiedTime(f).toMillis + 2000))
    val k1 = StoredState.computeInputKey(d.toString)
    assert(k1 !== k0, "mtime bump must invalidate")
    // size change
    Files.writeString(f, "bbbb-longer")
    val k2 = StoredState.computeInputKey(d.toString)
    assert(k2 !== k1, "size change must invalidate")
    // new file
    Files.writeString(d.resolve("c.parquet"), "cc")
    assert(StoredState.computeInputKey(d.toString) !== k2,
      "added file must invalidate")
  }

  test("input key skips files that vanish during the walk") {
    // a writer deletes and recreates a batch of files while the key is
    // computed over and over: some file is listed but gone by its stat
    val d = mkFixture()
    val k0 = StoredState.computeInputKey(d.toString)
    val churn = (0 until 300).map(i => d.resolve(s"sub/tmp-$i"))
    churn.foreach(Files.writeString(_, "x"))
    @volatile var stop = false
    val writer = new Thread(() =>
      while (!stop) {
        churn.foreach(Files.deleteIfExists(_))
        churn.foreach(Files.writeString(_, "x"))
      })
    writer.start()
    try (1 to 200).foreach(_ => StoredState.computeInputKey(d.toString))
    finally { stop = true; writer.join() }
    churn.foreach(Files.deleteIfExists(_))
    assert(StoredState.computeInputKey(d.toString) === k0)
  }

  test("table() builds once per key and serves parquet after") {
    val d = mkFixture()
    var builds = 0
    def get() = StoredState.table(spark, d.toString, "probe") {
      builds += 1
      spark.range(5).toDF("id")
    }
    assert(get().count() === 5)
    assert(get().count() === 5)
    assert(builds === 1, "second read must come from parquet, not the builder")
  }

  test("table() serves the new rows after a fixture file is rewritten in the same JVM") {
    val d = mkFixture()
    val f = d.resolve("rows.txt")
    def get() = StoredState.table(spark, d.toString, "rows") {
      import spark.implicits._
      Files.readAllLines(f).toArray(Array.empty[String]).toSeq.toDF("line")
    }
    Files.writeString(f, "x\ny\n")
    assert(get().count() === 2)
    Files.writeString(f, "x\ny\nz\n") // a different size
    assert(get().count() === 3, "a rewritten fixture must not serve the old state")
  }
}
