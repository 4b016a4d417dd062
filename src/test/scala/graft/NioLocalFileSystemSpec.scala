package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.hadoop.{NioLocalFileSystem, NioRawLocalFileSystem}

/** The exec-free local FS must be behaviorally identical to the stock
  * one — every assertion compares it against a stock
  * [[RawLocalFileSystem]] over the same files. */
class NioLocalFileSystemSpec extends AnyFunSuite with TempDirs {

  private def fresh(): (NioRawLocalFileSystem, RawLocalFileSystem, java.io.File) = {
    val conf = new Configuration()
    val nio = new NioRawLocalFileSystem
    nio.initialize(java.net.URI.create("file:///"), conf)
    val stock = new RawLocalFileSystem
    stock.initialize(java.net.URI.create("file:///"), conf)
    val dir = tempDir("niofs").toFile
    (nio, stock, dir)
  }

  test("getFileStatus matches stock on files and dirs") {
    val (nio, stock, dir) = fresh()
    val f = new java.io.File(dir, "data.bin")
    Files.write(f.toPath, "hello world".getBytes(StandardCharsets.UTF_8))
    for (p <- Seq(new Path(f.getAbsolutePath), new Path(dir.getAbsolutePath))) {
      val a = nio.getFileStatus(p)
      val b = stock.getFileStatus(p)
      assert(a.getLen === b.getLen)
      assert(a.isDirectory === b.isDirectory)
      assert(a.getModificationTime === b.getModificationTime)
      assert(a.getPermission === b.getPermission)
      assert(a.getOwner === b.getOwner)
      assert(a.getGroup === b.getGroup)
      assert(a.getPath === b.getPath)
    }
  }

  test("missing path: FileNotFoundException, like stock") {
    val (nio, _, dir) = fresh()
    val missing = new Path(new java.io.File(dir, "nope").getAbsolutePath)
    intercept[java.io.FileNotFoundException](nio.getFileStatus(missing))
    intercept[java.io.FileNotFoundException](nio.listStatus(missing))
  }

  test("listStatus matches stock (set equality, plain-file contract)") {
    val (nio, stock, dir) = fresh()
    Seq("a.txt", "b.txt").foreach { n =>
      Files.write(new java.io.File(dir, n).toPath, n.getBytes)
    }
    new java.io.File(dir, "sub").mkdir()
    val p = new Path(dir.getAbsolutePath)
    val a = nio.listStatus(p).map(s => (s.getPath, s.getLen, s.isDirectory)).toSet
    val b = stock.listStatus(p).map(s => (s.getPath, s.getLen, s.isDirectory)).toSet
    assert(a === b)
    val f = new Path(new java.io.File(dir, "a.txt").getAbsolutePath)
    assert(nio.listStatus(f).map(_.getPath).toSeq ===
      stock.listStatus(f).map(_.getPath).toSeq)
  }

  test("listStatus survives ':' in child names (no URI-scheme parse)") {
    val (nio, _, dir) = fresh()
    Files.write(new java.io.File(dir, "part:0:of:4.txt").toPath,
      "x".getBytes(StandardCharsets.UTF_8))
    val kids = nio.listStatus(new Path(dir.getAbsolutePath))
    assert(kids.length === 1)
    assert(kids.head.getPath.getName === "part:0:of:4.txt")
    assert(kids.head.getLen === 1L)
  }

  test("setPermission round-trips through real file modes") {
    val (nio, stock, dir) = fresh()
    val f = new java.io.File(dir, "perm.bin")
    Files.write(f.toPath, Array[Byte](1, 2, 3))
    val p = new Path(f.getAbsolutePath)
    for (mode <- Seq("644", "600", "755", "444")) {
      nio.setPermission(p, new FsPermission(Integer.parseInt(mode, 8).toShort))
      assert(stock.getFileStatus(p).getPermission ===
        new FsPermission(Integer.parseInt(mode, 8).toShort))
    }
  }

  test("mkdirs with mode applies permissions without exec") {
    val (nio, stock, dir) = fresh()
    val p = new Path(new java.io.File(dir, "x/y/z").getAbsolutePath)
    assert(nio.mkdirs(p, new FsPermission(Integer.parseInt("700", 8).toShort)))
    assert(stock.getFileStatus(p).getPermission ===
      new FsPermission(Integer.parseInt("700", 8).toShort))
  }

  test("create + read back through the checksum wrapper") {
    val conf = new Configuration()
    val fs = new NioLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), conf)
    val dir = tempDir("niofs").toFile
    val p = new Path(new java.io.File(dir, "cs.bin").getAbsolutePath)
    val out = fs.create(p)
    out.write("payload".getBytes(StandardCharsets.UTF_8)); out.close()
    val in = fs.open(p)
    val buf = new Array[Byte](7); in.readFully(buf); in.close()
    assert(new String(buf, StandardCharsets.UTF_8) === "payload")
    // the checksum sidecar exists at the raw layer (wrapper unchanged)
    assert(new java.io.File(dir, ".cs.bin.crc").exists())
  }

  test("spark session uses the nio FS for file:// paths") {
    val spark = SparkSpec.spark
    val fs = FileSystem.get(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[NioLocalFileSystem])
  }

  test("fs permission <-> nio permission mapping is a bijection on 0..511") {
    import graft.hadoop.NioLocalFileSystem.{toFs, toNio}
    for (bits <- 0 until 512) {
      val p = new FsPermission(bits.toShort)
      assert(toFs(toNio(p)).toShort === bits.toShort)
    }
  }
}
