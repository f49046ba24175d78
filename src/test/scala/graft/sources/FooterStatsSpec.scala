package graft.sources

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.duration._

/** A filesystem whose files exist but whose `open` never returns (until
  * interrupted): the shape of a hung metadata read.
  */
class BlockingOpenFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("blockfs:///")
  override def getScheme: String = "blockfs"
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    BlockingOpenFs.readers.add(Thread.currentThread())
    Thread.sleep(Long.MaxValue)
    throw new IllegalStateException("unreachable")
  }
  override def getFileStatus(f: Path): FileStatus =
    new FileStatus(1024L, false, 1, 1024L, 0L, f)
}

object BlockingOpenFs {
  /** Every thread that entered `open`. */
  val readers = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
}

class FooterStatsSpec extends AnyFunSuite {
  import scala.jdk.CollectionConverters._

  test("hung footer reads fail the commit in time and leave no pool thread") {
    val conf = new Configuration(false)
    conf.set("fs.blockfs.impl", classOf[BlockingOpenFs].getName)
    conf.setBoolean("fs.blockfs.impl.disable.cache", true)
    val entries = (1 to 3).map(i => TxTable.Entry(s"data/f$i.parquet", ""))
    // load Hadoop's filesystem registry and the parquet reader classes
    // here, so the short deadline below times only the hung opens
    org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new Path("blockfs:///t/warm"), conf)
    assert(BlockingOpenFs.readers.isEmpty)
    val t0 = System.nanoTime()
    val e = intercept[java.io.IOException] {
      TxTable.footerStats(conf, "blockfs:///t", entries, 200.millis)
    }
    val waited = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.contains("did not complete within 200 milliseconds"))
    assert(waited < 1.5, s"commit failed after $waited s, not near 0.2 s")
    // the reads ran on daemon threads, which wind down promptly once
    // interrupted; none may stay parked in the hung read
    val readers = BlockingOpenFs.readers.asScala.toSeq
    assert(readers.nonEmpty && readers.forall(_.isDaemon))
    readers.foreach(_.join(5000))
    assert(readers.forall(!_.isAlive), s"reader threads still alive: $readers")
  }
}
