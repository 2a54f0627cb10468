package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame

import graft.io.TableIO

/** Times every call into a [[TableIO]] and opens an `io` span around it.
  * Committed bytes are read from the commit's own manifest under `root`
  * (the file list with sizes that the manifest records), not by listing the
  * data directory. Used only in traced passes. */
final class TimedTableIO(inner: TableIO, root: String, tracer: Tracer) extends TableIO {
  var commits = 0L
  var commitNs = 0L
  var commitBytes = 0L
  var reads = 0L
  var readNs = 0L
  var manifestCalls = 0L
  var manifestNs = 0L
  var notes = 0L
  var noteNs = 0L

  private def timed[T](name: String)(body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val out = tracer.span(name, "io")(body)
    (out, System.nanoTime() - t0)
  }

  override def commit(table: String, iter: Int, df: DataFrame, meta: Map[String, Any],
                      bucket: Option[(String, Int)]): DataFrame = {
    val (out, ns) = timed(s"io.commit:$table")(inner.commit(table, iter, df, meta, bucket))
    commits += 1
    commitNs += ns
    commitBytes += TimedTableIO.manifestBytes(root, table, iter)
    out
  }

  override def read(table: String, iter: Int): DataFrame = {
    val (out, ns) = timed(s"io.read:$table")(inner.read(table, iter))
    reads += 1
    readNs += ns
    out
  }

  override def latest(table: String): Option[Int] = {
    val (out, ns) = timed(s"io.latest:$table")(inner.latest(table))
    manifestCalls += 1
    manifestNs += ns
    out
  }

  override def commitLog(table: String): Seq[Map[String, Any]] = {
    val (out, ns) = timed(s"io.commitLog:$table")(inner.commitLog(table))
    manifestCalls += 1
    manifestNs += ns
    out
  }

  override def note(table: String, iter: Int, meta: Map[String, Any]): Unit = {
    val (_, ns) = timed(s"io.note:$table")(inner.note(table, iter, meta))
    notes += 1
    noteNs += ns
  }
}

object TimedTableIO {
  private val mapper = new ObjectMapper()

  /** Sum of the file sizes a ParquetManifestIO manifest lists. */
  def manifestBytes(root: String, table: String, iter: Int): Long = {
    val p = Paths.get(root, "_commits", s"$table-$iter.json")
    if (!Files.exists(p)) 0L
    else {
      val m = mapper.readValue(Files.readAllBytes(p), classOf[java.util.Map[String, Any]])
      m.get("files") match {
        case fs: java.util.List[_] =>
          fs.asScala.map {
            case f: java.util.Map[_, _] => f.get("bytes").toString.toLong
            case _                      => 0L
          }.sum
        case _ => 0L
      }
    }
  }
}
