package graft.sources.fits

import java.io.FileNotFoundException
import java.util.concurrent.{Executors, TimeoutException}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** File discovery with the reference's surface (FitsSourceRelation.scala:
  * 133-177): a single file, a directory (recursive, keeps only `*.fits`),
  * a glob pattern, or a comma-separated combination of those.
  */
object FitsFiles {

  /** Longest [[parMap]] waits for any one item once every item before
    * it has finished: a header walk is a few small reads, so an item
    * still running after this is stuck, not slow. */
  val ItemTimeout: FiniteDuration = 5.minutes

  def resolve(pathSpec: String, conf: Configuration): Seq[Path] = {
    val out = pathSpec.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      .flatMap(one(_, conf))
    if (out.isEmpty)
      throw new IllegalArgumentException(
        s"No FITS files found for path '$pathSpec'")
    out
  }

  private def one(spec: String, conf: Configuration): Seq[Path] = {
    val path = new Path(spec)
    val fs = path.getFileSystem(conf)
    val status =
      try Some(fs.getFileStatus(path))
      catch { case _: FileNotFoundException => None }
    status match {
      case Some(st) => if (st.isDirectory) listFits(fs, path) else Seq(path)
      case None =>
        // not a literal path — try as a glob
        val matched = Option(fs.globStatus(path)).getOrElse(Array.empty)
        matched.toSeq.flatMap { st =>
          if (st.isDirectory) listFits(fs, st.getPath) else Seq(st.getPath)
        }
    }
  }

  /** Bounded driver-side parallel map (used for per-file header walks —
    * one small positioned read per HDU, latency-bound on object stores).
    * Results are awaited in order; the pool runs items in order too, so
    * the item awaited has been running for the whole wait, and one that
    * outlasts `timeout` fails the map naming that item.
    */
  def parMap[A, B](xs: Seq[A], threads: Int,
      timeout: FiniteDuration = ItemTimeout)(f: A => B): Seq[B] =
    if (xs.lengthCompare(2) < 0) xs.map(f)
    else {
      val pool = Executors.newFixedThreadPool(math.min(threads, xs.length))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try xs.toVector.map(x => x -> Future(f(x))).map { case (x, fut) =>
        try Await.result(fut, timeout)
        catch { case _: TimeoutException =>
          throw new TimeoutException(s"no result for $x after $timeout")
        }
      }
      finally pool.shutdownNow()
    }

  /** Every `*.fits` file under `dir` (suffix matched case-insensitively),
    * sorted by path. Walks with `listStatus`: `listFiles` builds a
    * `LocatedFileStatus` per file, whose permission read forks `ls` on
    * a local file system without native Hadoop. */
  private def listFits(fs: FileSystem, dir: Path): Seq[Path] = {
    val buf = Seq.newBuilder[Path]
    def walk(d: Path): Unit = fs.listStatus(d).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.isFile && st.getPath.getName.toLowerCase.endsWith(".fits"))
        buf += st.getPath
    }
    walk(dir)
    buf.result().sortBy(_.toString)
  }
}
