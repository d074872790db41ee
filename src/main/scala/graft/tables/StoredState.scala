package graft.tables

import java.io.IOException
import java.nio.file.{FileSystemLoopException, FileVisitOption, FileVisitResult, Files,
  NoSuchFileException, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Disk-backed stand-ins for the STORED tables the IVM query family
  * maintains (VERDICT r4 item 4): the plain `qNNN` oracle queries
  * rebuild their stored inputs in-query so DuckDB can mirror them from
  * the raw parquet, which makes their bench number ~3/4 scaffolding.
  * The `_stored` bench twins read the same state from parquet written
  * ONCE per (sfDir, table) — the production shape, where a live
  * replication loop already has the cluster/band/layer tables on disk
  * (at 100 TB: bucketed Iceberg tables; the read path is identical).
  *
  * The build is keyed by sfDir, a version tag AND a fingerprint of the
  * input files (relative path, size, mtime of everything under sfDir),
  * re-taken on every [[table]] call. A code change (bump [[Version]])
  * or a fixture rewrite that changes a file's size or mtime gets a new
  * root, even within one JVM — Bench can run the `_stored` twins
  * without Verify, so a silently stale cache would otherwise go
  * uncaught. The key is make-style, not content: a rewrite that keeps
  * every size and mtime (`cp -p`, `rsync -a`, a coarse-mtime file
  * system) still serves the old state. `sbt clean` wipes `target/`
  * for that case.
  */
object StoredState {

  /** Bump when any builder's derivation changes shape or content. */
  private val Version = "v2"

  /** Key of the input dir: murmur3 over the sorted (relative path,
    * size, mtime) of every regular file. One directory walk per call,
    * negligible next to a builder job. */
  private[graft] def computeInputKey(dir: String): String = {
    val base = Paths.get(dir)
    val entries = scala.collection.mutable.ArrayBuffer[String]()
    // symlinks key on their targets, as a reader of the fixture sees them
    if (Files.exists(base)) Files.walkFileTree(base,
      java.util.EnumSet.of(FileVisitOption.FOLLOW_LINKS), Int.MaxValue,
      new SimpleFileVisitor[Path] {
        override def visitFile(p: Path, a: BasicFileAttributes): FileVisitResult = {
          if (a.isRegularFile)
            entries += s"${base.relativize(p)}|${a.size}|${a.lastModifiedTime.toMillis}"
          FileVisitResult.CONTINUE
        }
        // an entry that vanishes between listing and stat (a concurrent
        // writer's temp file) is left out of the key instead of failing
        // table(); a symlink loop is not descended twice
        override def visitFileFailed(p: Path, e: IOException): FileVisitResult =
          skipOrThrow(e)
        override def postVisitDirectory(d: Path, e: IOException): FileVisitResult =
          if (e == null) FileVisitResult.CONTINUE else skipOrThrow(e)
      })
    f"${scala.util.hashing.MurmurHash3.orderedHash(entries.sorted)}%08x"
  }

  private def skipOrThrow(e: IOException): FileVisitResult = e match {
    case _: NoSuchFileException | _: FileSystemLoopException => FileVisitResult.CONTINUE
    case _ => throw e
  }

  private def root(dir: String): String =
    s"target/stored-state/$Version-${computeInputKey(dir)}/" +
      dir.replaceAll("[^A-Za-z0-9.]+", "_")

  /** Read `name` from parquet, building it first iff absent. */
  def table(s: SparkSession, dir: String, name: String)(build: => DataFrame): DataFrame = {
    val path = s"${root(dir)}/$name"
    if (!Files.exists(Paths.get(path, "_SUCCESS")))
      build.write.mode("overwrite").parquet(path)
    s.read.parquet(path)
  }
}
