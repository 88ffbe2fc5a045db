package graft.streaming

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, DelegateToFileSystem, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

import graft.sources.ShardTempRoot

/** Hadoop's raw local file system under the scheme `graftfs`, as a
  * FileContext file system: a non-`file:` path for the spec below. */
class GraftTestFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawLocalFileSystem, conf, "graftfs", false)

/** graft's checkpoint file manager writes what Spark's default
  * (`FileContextBasedCheckpointFileManager`) writes on a local path, in
  * a sibling dir: the same data, `.crc` and permission bits, the same
  * atomic-write contract, and a checked read. Other schemes go to
  * Spark's default. */
class LocalCheckpointFilesSpec extends ShardTempRoot {

  private val conf = new Configuration()
  private val payload = new Random(7).nextBytes(1500) // three checksum chunks

  private def ours(dir: String) = new LocalCheckpointFiles(new Path(dir), conf)

  private def write(fm: CheckpointFileManager, p: Path, bytes: Array[Byte],
      overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(bytes)
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): Array[Byte] = {
    val in = fm.open(p)
    try in.readAllBytes() finally in.close()
  }

  /** Every file and dir under `root`: relative path → (mode, bytes). */
  private def tree(root: String): Map[String, (String, Seq[Byte])] = {
    val r = Paths.get(root)
    Files.walk(r).iterator().asScala.filter(_ != r).map { p =>
      val mode = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      val bytes = if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Seq.empty
      r.relativize(p).toString -> (mode, bytes)
    }.toMap
  }

  private def names(dir: String): Set[String] =
    Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString).toSet

  test("an atomic write leaves the data, .crc and modes Spark's default leaves") {
    val base = tmp("lcf_same_")
    def lay(fm: CheckpointFileManager): Unit = {
      val ckpt = fm.createCheckpointDirectory()
      fm.mkdirs(new Path(ckpt, "offsets"))
      fm.mkdirs(new Path(ckpt, "state/0/1"))
      write(fm, new Path(ckpt, "offsets/0"), payload)
      write(fm, new Path(ckpt, "state/0/1/1.delta"), payload.take(10))
    }
    lay(ours(s"$base/graft/ckpt"))
    lay(new FileContextBasedCheckpointFileManager(new Path(s"$base/spark/ckpt"), conf))
    val (g, s) = (tree(s"$base/graft"), tree(s"$base/spark"))
    assert(g.keySet.contains("ckpt/offsets/.0.crc"), g.keySet)
    assert(g.keySet == s.keySet)
    g.foreach { case (path, (mode, bytes)) =>
      assert(mode == s(path)._1, s"mode of $path")
      assert(bytes == s(path)._2, s"bytes of $path")
    }
    assert(g("ckpt")._1 == "rwxr-xr-x" && g("ckpt/offsets/0")._1 == "rw-r--r--")
  }

  test("a no-overwrite write over a file throws Hadoop's FileAlreadyExistsException, leaving no temp") {
    val dir = tmp("lcf_exists_")
    val fm = ours(dir)
    val p = new Path(dir, "0")
    write(fm, p, payload)
    intercept[FileAlreadyExistsException](write(fm, p, Array[Byte](1, 2, 3)))
    assert(names(dir) == Set("0", ".0.crc"))
    assert(read(fm, p).sameElements(payload))
  }

  test("an overwrite replaces the file") {
    val dir = tmp("lcf_overwrite_")
    val fm = ours(dir)
    val p = new Path(dir, "0")
    write(fm, p, payload)
    write(fm, p, Array[Byte](4, 5), overwrite = true)
    assert(read(fm, p).sameElements(Array[Byte](4, 5)))
    assert(names(dir) == Set("0", ".0.crc"))
  }

  test("cancel leaves nothing") {
    val dir = tmp("lcf_cancel_")
    val out = ours(dir).createAtomic(new Path(dir, "0"), overwriteIfPossible = false)
    out.write(payload)
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("list hides .crc files") {
    val dir = tmp("lcf_list_")
    val fm = ours(dir)
    write(fm, new Path(dir, "0"), payload)
    write(fm, new Path(dir, "1"), payload)
    assert(names(dir) == Set("0", "1", ".0.crc", ".1.crc"))
    assert(fm.list(new Path(dir)).map(_.getPath.getName).toSet == Set("0", "1"))
  }

  test("a flipped data byte fails the read with a ChecksumException and leaves the file in place") {
    val dir = tmp("lcf_corrupt_")
    val fm = ours(dir)
    val p = new Path(dir, "0")
    write(fm, p, payload)
    val raf = new RandomAccessFile(s"$dir/0", "rw")
    try { raf.seek(700); raf.write(payload(700) ^ 0xff) } finally raf.close()
    intercept[ChecksumException](read(fm, p))
    assert(names(dir) == Set("0", ".0.crc"))
  }

  test("a non-file: path goes to Spark's default manager") {
    assert(ours(tmp("lcf_local_")).isLocal)
    assert(new LocalCheckpointFiles(new Path(s"file://${tmp("lcf_file_")}"), conf).isLocal)
    val c = new Configuration(conf)
    c.set("fs.AbstractFileSystem.graftfs.impl", classOf[GraftTestFs].getName)
    val fc = new LocalCheckpointFiles(new Path(s"graftfs://${tmp("lcf_fc_")}"), c)
    assert(fc.delegate.getClass == classOf[FileContextBasedCheckpointFileManager])
    assert(!fc.isLocal)
    // no FileContext file system for the scheme: Spark's FileSystem fallback
    c.set("fs.graftfsonly.impl", classOf[RawLocalFileSystem].getName)
    c.setBoolean("fs.graftfsonly.impl.disable.cache", true)
    val fsOnly = new LocalCheckpointFiles(new Path(s"graftfsonly://${tmp("lcf_fs_")}"), c)
    assert(fsOnly.delegate.getClass == classOf[FileSystemBasedCheckpointFileManager])
  }

  test("Spark's factory builds it from a GraftSession's conf") {
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val c = new Configuration(conf)
    c.set(key, spark.conf.get(key))
    assert(CheckpointFileManager.create(new Path(tmp("lcf_session_")), c)
      .isInstanceOf[LocalCheckpointFiles])
  }

  leavesNoTempDirs()
}
