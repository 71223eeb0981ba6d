package graft.sources.fits

import java.io.File
import java.nio.file.Files
import java.util.concurrent.TimeoutException

import scala.concurrent.duration._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.SparkTestBase

/** File discovery: every path spec resolves to the file list the
  * `listFiles`-based listing gave, and `parMap` never waits unbounded. */
class FitsFilesSpec extends SparkTestBase {

  private val conf = new Configuration()

  /** The listing as `FitsFiles` did it with `exists` + `getFileStatus`
    * and a recursive `fs.listFiles`: the semantics to keep. */
  private def listFilesResolve(pathSpec: String): Seq[Path] =
    pathSpec.split(',').toSeq.map(_.trim).filter(_.nonEmpty).flatMap { spec =>
      val path = new Path(spec)
      val fs = path.getFileSystem(conf)
      def list(dir: Path): Seq[Path] = {
        val it = fs.listFiles(dir, true)
        val buf = Seq.newBuilder[Path]
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile && st.getPath.getName.toLowerCase.endsWith(".fits"))
            buf += st.getPath
        }
        buf.result().sortBy(_.toString)
      }
      if (fs.exists(path)) {
        if (fs.getFileStatus(path).isDirectory) list(path) else Seq(path)
      } else Option(fs.globStatus(path)).getOrElse(Array.empty).toSeq
        .flatMap(st => if (st.isDirectory) list(st.getPath) else Seq(st.getPath))
    }

  private def withTree(body: String => Unit): Unit = {
    val root = Files.createTempDirectory("graft-files").toFile
    Seq("a.fits", "B.FITS", "c.txt", "g.fits.gz", "sub/d.fits",
      "sub/deeper/e.Fits", "sub/f.dat", "sub2/h.fits").foreach { rel =>
      val f = new File(root, rel)
      f.getParentFile.mkdirs()
      Files.write(f.toPath, Array[Byte](0))
    }
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    try body(root.getPath) finally rm(root)
  }

  private def names(root: String, ps: Seq[Path]): Seq[String] =
    ps.map(_.toUri.getPath.stripPrefix(new File(root).toURI.getPath))

  test("dir, nested dir, glob and comma-list specs list as listFiles did") {
    withTree { root =>
      val specs = Seq(root, s"$root/sub", s"$root/*.fits", s"$root/s*",
        s"$root/sub/deeper/e.Fits", s"$root/sub2, $root/a.fits,$root/sub",
        s"file://$root")
      specs.foreach { spec =>
        val got = FitsFiles.resolve(spec, conf)
        assert(got.map(_.toString) == listFilesResolve(spec).map(_.toString),
          spec)
      }
      // non-.fits files drop, the suffix matches case-insensitively, and
      // a directory's files come sorted by path (upper case first)
      assert(names(root, FitsFiles.resolve(root, conf)) ==
        Seq("B.FITS", "a.fits", "sub/d.fits", "sub/deeper/e.Fits", "sub2/h.fits"))
      assert(names(root, FitsFiles.resolve(s"$root/s*", conf)) ==
        Seq("sub/d.fits", "sub/deeper/e.Fits", "sub2/h.fits"))
      // comma lists keep their order; each part is sorted on its own
      assert(names(root, FitsFiles.resolve(s"$root/sub2,$root/sub", conf)) ==
        Seq("sub2/h.fits", "sub/d.fits", "sub/deeper/e.Fits"))
      val e = intercept[IllegalArgumentException](
        FitsFiles.resolve(s"$root/nothing*", conf))
      assert(e.getMessage.contains("No FITS files found"))
    }
  }

  test("wildcard-parent globs resolve what one globStatus call does") {
    val root = Files.createTempDirectory("graft-glob").toFile
    // `n01-x` sorts before `n01/` by path, `n03` is a file that the
    // parent pattern matches, `m00` is outside it
    val rels = Seq("n00", "n01", "n02", "n01-x").flatMap(d =>
      Seq("f0007.fits", "f0107.fits", "f0008.fits", "g0007.fits").map(f => s"$d/$f")) ++
      Seq("n03", "m00/f0007.fits", "n02/sub/f0207.fits")
    rels.foreach { rel =>
      val f = new File(root, rel)
      f.getParentFile.mkdirs()
      Files.write(f.toPath, Array[Byte](0))
    }
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    try {
      val fs = new Path(root.getPath).getFileSystem(conf)
      val specs = Seq("n*/f??07.fits", "n0[0-2]/*.fits", "{n01,n02}/f*.fits",
        "{n00/f0007.fits,n02/f0008.fits}", "n*/f0008.fits", "*/*/f*.fits",
        "n*/sub")
      specs.map(sp => s"${root.getPath}/$sp").foreach { spec =>
        val one = Option(fs.globStatus(new Path(spec))).getOrElse(Array.empty)
        assert(one.nonEmpty, spec)
        assert(FitsFiles.glob(fs, new Path(spec)).map(_.getPath.toString).toSeq ==
          one.map(_.getPath.toString).toSeq, spec)
        // a comma inside braces stays in its glob: the reference listing
        // would split the spec into a path list
        val want =
          if (spec.contains(',')) one.map(_.getPath.toString).toSeq
          else listFilesResolve(spec).map(_.toString)
        assert(FitsFiles.resolve(spec, conf).map(_.toString) == want, spec)
      }
      val none = s"${root.getPath}/n*/zz*.fits"
      assert(listFilesResolve(none).isEmpty)
      val e = intercept[IllegalArgumentException](FitsFiles.resolve(none, conf))
      assert(e.getMessage == s"No FITS files found for path '$none'", e.getMessage)
    } finally rm(root)
  }

  test("a brace glob and a comma list load through the data source") {
    val root = Files.createTempDirectory("graft-brace").toFile
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    try {
      Seq("n01" -> 0, "n02" -> 10, "n03" -> 20).foreach { case (d, base) =>
        spark.range(base, base + 3).coalesce(1).write.format("fits").mode("append")
          .save(s"${root.getPath}/$d")
      }
      def ids(spec: String) = spark.read.format("fits").option("hdu", 1)
        .load(spec).collect().map(_.getLong(0)).toSeq.sorted
      assert(ids(s"${root.getPath}/{n01,n02}/*.fits") == Seq(0L, 1, 2, 10, 11, 12))
      assert(ids(s"${root.getPath}/{n01,n03},${root.getPath}/n02") ==
        Seq(0L, 1, 2, 10, 11, 12, 20, 21, 22))
    } finally rm(root)
  }

  test("parMap keeps order and fails naming an item that outlasts its wait") {
    assert(FitsFiles.parMap(1 to 50, 4)(_ * 2) == (1 to 50).map(_ * 2))
    val e = intercept[TimeoutException] {
      FitsFiles.parMap(Seq("quick.fits", "stuck.fits", "after.fits"), 2,
        200.millis) { name =>
        if (name == "stuck.fits") Thread.sleep(60000)
        name
      }
    }
    assert(e.getMessage.contains("stuck.fits"), e.getMessage)
    val boom = intercept[IllegalStateException] {
      FitsFiles.parMap(Seq(1, 2, 3), 2)(i =>
        if (i == 2) throw new IllegalStateException("bad header") else i)
    }
    assert(boom.getMessage == "bad header")
  }
}
