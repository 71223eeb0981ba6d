package graft.sources.fits

import java.io.FileNotFoundException
import java.util.concurrent.{Executors, ThreadFactory, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

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
    val out = specs(pathSpec).map(_.trim).filter(_.nonEmpty)
      .flatMap(one(_, conf))
    if (out.isEmpty)
      throw new IllegalArgumentException(
        s"No FITS files found for path '$pathSpec'")
    out
  }

  /** `pathSpec` split at the commas outside `{...}`: a comma inside
    * braces separates the alternatives of one Hadoop glob. */
  private def specs(pathSpec: String): Seq[String] = {
    var depth = 0
    val cuts = pathSpec.indices.filter { i =>
      pathSpec(i) match {
        case '{' => depth += 1; false
        case '}' => depth = math.max(0, depth - 1); false
        case c => c == ',' && depth == 0
      }
    }
    (-1 +: cuts :+ pathSpec.length).sliding(2)
      .map { case Seq(a, b) => pathSpec.substring(a + 1, b) }.toSeq
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
        glob(fs, path).toSeq.flatMap { st =>
          if (st.isDirectory) listFits(fs, st.getPath) else Seq(st.getPath)
        }
    }
  }

  private val GlobChars = "*?[{\\"
  private def hasGlob(s: String): Boolean = s.exists(GlobChars.contains(_))

  /** `fs.globStatus(pattern)`, same entries in the same sorted order.
    * Hadoop's glob builds the statuses of every leaf directory one
    * directory after another; when the parent has wildcards, the parent
    * is globbed first and each matched directory's leaf is globbed in
    * parallel, still by Hadoop's own matcher. A brace that spans `/`
    * cannot be split at the last separator, and a leaf with `:` would
    * parse as a URI scheme on its own: both keep the one call. */
  private[fits] def glob(fs: FileSystem, pattern: Path): Array[FileStatus] = {
    def statuses(p: Path) = Option(fs.globStatus(p)).getOrElse(Array.empty[FileStatus])
    val parent = pattern.getParent
    val braceSpansSlash = "\\{[^}]*/".r.findFirstIn(pattern.toString).isDefined
    val leaf = pattern.getName
    if (parent == null || braceSpansSlash || leaf.contains(':') ||
      !hasGlob(parent.toString)) statuses(pattern)
    else {
      val dirs = statuses(parent).filter(_.isDirectory).toSeq
      val out = parMap(dirs, 16)(d => statuses(new Path(d.getPath, leaf))).flatten.toArray
      java.util.Arrays.sort(out.asInstanceOf[Array[Object]])
      out
    }
  }

  /** Daemon threads shared by every [[parMap]] call: threads idle for a
    * minute exit, so the pool costs nothing between planning bursts. */
  private lazy val pool = Executors.newCachedThreadPool(new ThreadFactory {
    private val n = new AtomicInteger()
    override def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"fits-parmap-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  /** Bounded driver-side parallel map (used for per-file header walks —
    * one small positioned read per HDU, latency-bound on object stores).
    * At most `threads` workers of the shared pool take items in order;
    * results are awaited in order, so the item awaited has been running
    * for the whole wait, and one that outlasts `timeout` fails the map
    * naming that item. A failed map interrupts its workers.
    */
  def parMap[A, B](xs: Seq[A], threads: Int,
      timeout: FiniteDuration = ItemTimeout)(f: A => B): Seq[B] =
    if (xs.lengthCompare(2) < 0) xs.map(f)
    else {
      val items = xs.toVector
      val results = Vector.fill(items.length)(Promise[B]())
      val next = new AtomicInteger()
      @volatile var stopped = false
      val worker: Runnable = () => {
        var i = next.getAndIncrement()
        while (i < items.length && !stopped) {
          try results(i).success(f(items(i)))
          catch { case t: Throwable => results(i).failure(t) }
          i = next.getAndIncrement()
        }
      }
      val workers = Seq.fill(math.min(threads, items.length))(pool.submit(worker))
      try items.indices.map { i =>
        try Await.result(results(i).future, timeout)
        catch { case _: TimeoutException =>
          throw new TimeoutException(s"no result for ${items(i)} after $timeout")
        }
      }
      catch { case e: Throwable =>
        stopped = true
        workers.foreach(_.cancel(true))
        throw e
      }
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
