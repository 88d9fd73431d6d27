package graft.ops

import org.apache.spark.sql.{DataFrameWriter, Dataset}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** Local file-system helpers: the engine's one parquet writer
  * ([[writer]]); its one atomic publish ([[writeAtomic]]) and one
  * directory swap ([[swap]] / [[restoreSwap]]), the only atomic
  * renames under `src/main`; and closed-stream directory listing.
  * `Files.list`/`Files.walk` return lazy streams backed by an open
  * directory handle; materializing through `.iterator().asScala`
  * without closing leaks one handle per call — fatal in a long-running
  * follower that re-lists the commit manifest every batch. These
  * helpers materialize eagerly and close.
  */
object Fs {

  def ls(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq
    finally s.close()
  }

  /** Depth-first walk, deepest entries LAST (callers reverse for
    * delete order).
    */
  def walk(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.toSeq
    finally s.close()
  }

  /** Recursive delete; no-op on a missing path. The ONE copy of the
    * recursive-delete protocol — every store (ArtifactStore,
    * DeltaPartsStore, StreamSplit, BlockIngest) and the governance
    * queries share it, so a hardening lands everywhere at once. */
  def deleteRec(p: Path): Unit = {
    if (Files.isDirectory(p)) ls(p).foreach(deleteRec)
    Files.deleteIfExists(p)
    ()
  }

  /** Write `text` to `p` through `<p>.tmp` and one atomic rename — a
    * crash never leaves a torn `p`; a leftover `.tmp` is not `p`. Every
    * small state file (watermarks, pins, sidecars, manifests) is
    * published this way. */
  def writeAtomic(p: Path, text: String): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    val tmp = p.resolveSibling(s"${p.getFileName}.tmp")
    Files.write(tmp, text.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** The compaction swap: `live` → `old`, then `staged` → `live`, two
    * atomic renames. A crash between them leaves `live` missing and
    * `old` whole, which [[restoreSwap]] undoes; when to reclaim `old`
    * after a completed swap is the caller's protocol. */
  def swap(live: Path, staged: Path, old: Path): Unit = {
    Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(staged, live, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Restore a [[swap]] torn between its renames: with `live` missing
    * and `old` present, rename `old` back to `live`. True if it did. */
  def restoreSwap(live: Path, old: Path): Boolean = {
    val torn = !Files.exists(live) && Files.exists(old)
    if (torn) Files.move(old, live, StandardCopyOption.ATOMIC_MOVE)
    torn
  }

  /** Wipe a directory by path string (the governance queries' fixture
    * reset). */
  def wipe(dir: String): Unit =
    deleteRec(java.nio.file.Paths.get(dir))

  /** `ds.write` for every parquet write the engine makes: `file:`
    * paths resolve to [[NioLocalFileSystem]], which sets modes through
    * java.nio instead of forking `chmod` per created file and
    * directory. The two options reach only the Hadoop conf of THIS
    * write's job and tasks (Spark copies writer options into it); the
    * file-system cache is bypassed for that conf, since its key ignores
    * the implementation class and would hand back the cached default
    * one. Other schemes are untouched. */
  def writer[T](ds: Dataset[T]): DataFrameWriter[T] =
    ds.write.options(WriterOptions)

  private val WriterOptions = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}
