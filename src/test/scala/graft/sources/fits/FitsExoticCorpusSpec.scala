package graft.sources.fits

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.SparkTestBase
import graft.sources.fits.core.{FitsStructure, HduMeta}

/** Robustness sweep over the reference's third-party "header challenge"
  * corpus (toTest/, README.md:62-68): exotic headers, ASCII tables,
  * multi-axis images, 64-bit columns, variable-length arrays. The
  * engine must never crash on structure scan, and every readable HDU
  * must load end-to-end.
  */
class FitsExoticCorpusSpec extends SparkTestBase {

  /** The corpus files; cancels the calling test where the reference's
    * toTest/ directory is absent (its files cannot be rebuilt). */
  private def corpus = new File(RefFixtures.reference("toTest"))
    .listFiles().filter(_.getName.endsWith(".fits")).sortBy(_.getName)

  test("every corpus file structure-scans with consistent boundaries") {
    corpus.foreach { f =>
      val path = new Path(s"file://${f.getAbsolutePath}")
      val hdus = FitsStructure.scan(path.getFileSystem(new Configuration()), path)
      withClue(f.getName) {
        assert(hdus.nonEmpty)
        hdus.foreach { h =>
          assert(h.bounds.headerStart % 2880 == 0)
          assert(h.bounds.blockStop % 2880 == 0)
          assert(h.bounds.dataStart > h.bounds.headerStart)
          assert(h.bounds.dataStop <= h.bounds.blockStop)
        }
        // HDUs tile the file without gaps
        hdus.sliding(2).foreach {
          case Vector(a, b) => assert(a.bounds.blockStop == b.bounds.headerStart)
          case _ =>
        }
      }
    }
  }

  test("every readable HDU loads end-to-end without errors") {
    corpus.foreach { f =>
      val path = new Path(s"file://${f.getAbsolutePath}")
      val hdus = FitsStructure.scan(path.getFileSystem(new Configuration()), path)
      hdus.foreach { h =>
        withClue(s"${f.getName} hdu ${h.index}") {
          val df = spark.read.format("fits").option("hdu", h.index)
            .load(f.getAbsolutePath)
          val n = df.count()
          h.meta match {
            case m if m.isReadable && !hasUnsupported(m) =>
              assert(n == m.nRows)
            case _ => assert(n >= 0) // opaque/partial: just don't crash
          }
        }
      }
    }
  }

  private def hasUnsupported(m: HduMeta): Boolean = m match {
    case b: HduMeta.Bintable => b.columns.exists(!_.tform.supported) ||
      b.columns.map(_.tform.byteWidth).sum != b.rowBytes
    case _ => false
  }
}
