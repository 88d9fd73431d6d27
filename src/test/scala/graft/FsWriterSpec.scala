package graft

import graft.ops.{Fs, NioRawLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrameWriter, Dataset, Row}

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The engine's one parquet writer ([[Fs.writer]]) and the fork-free
  * local file system it names ([[NioRawLocalFileSystem]]): the same
  * rows, files and POSIX modes as a plain `df.write`, its mode changes
  * answered by the new file system, and no engine write left outside
  * it. */
class FsWriterSpec extends SparkSpec {
  import spark.implicits._

  private def mode(p: Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every entry under `root` → its mode, by relative path, with the
    * per-write part-file id normalized (`.crc` sidecars and `_SUCCESS`
    * included). */
  private def layout(root: Path): Map[String, Int] =
    Fs.walk(root).filter(_ != root).map { p =>
      root.relativize(p).toString
        .replaceAll("part-(\\d+)-[0-9a-f-]+", "part-$1-ID") -> mode(p)
    }.toMap

  private def calls: Long = NioRawLocalFileSystem.calls.get

  test("a dynamic-overwrite write through Fs.writer matches a plain write: " +
      "rows, layout and modes; its mode changes go through the nio FS") {
    val base = Files.createTempDirectory("fswriter")
    val (plain, nio) = (base.resolve("plain"), base.resolve("nio"))
    val all = (0 until 240).map(i => (i.toLong, s"v$i", i % 4, i % 3))
      .toDF("id", "v", "a", "b")
    // a first (static) write, then a dynamic overwrite of a subset of
    // the partitions
    val again = all.filter($"a" === 1).selectExpr("id", "upper(v) AS v",
      "a", "b")
    def write(w: Dataset[Row] => DataFrameWriter[Row], dir: Path): Unit = {
      w(all).mode("overwrite").partitionBy("a", "b").parquet(dir.toString)
      w(again).mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("a", "b").parquet(dir.toString)
    }
    val c0 = calls
    write(_.write, plain)
    val c1 = calls
    write(Fs.writer(_), nio)
    val c2 = calls
    assert(c1 === c0, "a plain write reached the nio FS")
    // every created file, .crc and directory of the helper's write
    assert(c2 - c1 > 0, "the helper's write never reached the nio FS")

    def rows(dir: Path) = spark.read.parquet(dir.toString)
      .orderBy("id").collect().toSeq
    assert(rows(nio) === rows(plain))
    assert(rows(nio).count(_.getAs[String]("v").startsWith("V")) === 60)
    val (lp, ln) = (layout(plain), layout(nio))
    assert(ln === lp)
    assert(lp.keySet.exists(_.endsWith(".crc")))
    assert(lp.keySet.contains("_SUCCESS"))
    assert(lp.keySet.exists(_.matches("a=1/b=2/part-\\d+-ID.*\\.parquet")))
  }

  test("a mode java.nio cannot express (the sticky bit) keeps Hadoop's " +
      "own path; a plain mode goes through java.nio") {
    val fs = new NioRawLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    val dir = Files.createTempDirectory("sticky")
    val before = calls
    fs.setPermission(new HPath(dir.toUri),
      new FsPermission(Integer.parseInt("1751", 8).toShort))
    assert(mode(dir) === Integer.parseInt("1751", 8))
    fs.setPermission(new HPath(dir.toUri),
      new FsPermission(Integer.parseInt("0640", 8).toShort))
    assert(mode(dir) === Integer.parseInt("0640", 8))
    assert(calls - before === 2)
  }

  test("no Dataset write under src/main/scala bypasses Fs.writer") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    // `.write` not followed by a call or an identifier character: the
    // Dataset accessor, not `Files.write(…)`, `pin.write(…)`,
    // `.writeStream` or `ShardWriter.write(…)`
    val datasetWrite = """\.write(?![\w(])""".r
    val offenders = Fs.walk(root)
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(Paths.get("graft/ops/Fs.scala")))
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if !line.trim.matches("(//|\\*|/\\*).*") &&
              datasetWrite.findFirstIn(line.replaceAll("//.*", "")).isDefined =>
            s"$f:${i + 1}: ${line.trim}"
        }
      }
    assert(offenders.isEmpty,
      s"Dataset writes outside Fs.writer:\n${offenders.mkString("\n")}")
  }
}
