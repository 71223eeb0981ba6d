package graft.sources.fits.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `graft.sources.fits.core` is the Spark-free FITS library the
  * connector is built on; it must never reach up into the connector
  * package above it. Checked on the sources, so a fully-qualified
  * reference fails as surely as an import. */
class CoreLayeringSpec extends AnyFunSuite {

  test("core sources reference nothing of graft.sources.fits outside core") {
    val coreDir = Paths.get("src/main/scala/graft/sources/fits/core")
    val sources = Files.walk(coreDir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList.sorted
    assert(sources.nonEmpty, s"no sources under ${coreDir.toAbsolutePath}")
    val upward = """graft\.sources\.fits\.(?!core\b)\w+""".r
    val hits = for {
      f <- sources
      (line, i) <- Files.readAllLines(f).asScala.toList.zipWithIndex
      // a chained `package graft.sources.fits` clause would put the
      // connector's members in scope without a qualified reference
      bad <- upward.findAllIn(line).toList ++
        Some(line.trim).filter(l => l.startsWith("package ") &&
          l != "package graft.sources.fits.core")
    } yield s"${f.getFileName}:${i + 1}: $bad"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
