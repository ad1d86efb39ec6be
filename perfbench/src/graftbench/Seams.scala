package graftbench

import java.util.concurrent.atomic.AtomicLong

import graft.pipeline.LinkRefresh
import graft.sinks.EsSink

/** Benchmark-owned implementations of the two external seams the
  * pipeline calls: the Elasticsearch bulk transport and the direct-link
  * fetch. Neither touches the network. Both count what they are asked to
  * do, in JVM-wide counters (the session is `local[n]`, so every task
  * runs in this JVM).
  *
  * `fault` makes the transport misbehave for the benchmark's self-test:
  * `drop` answers only half of each bulk call's items, `4xx` rejects
  * every tenth item with 400. Either must surface as failed operations.
  */
object Seams {
  val bulkCalls = new AtomicLong
  val indexItems = new AtomicLong
  val deleteItems = new AtomicLong
  val bytesSent = new AtomicLong
  val busyNs = new AtomicLong
  val fetchCalls = new AtomicLong

  @volatile var fault = "none"

  final case class Counts(bulkCalls: Long, indexItems: Long,
      deleteItems: Long, bytesSent: Long, busyNs: Long, fetchCalls: Long) {
    def -(o: Counts): Counts = Counts(bulkCalls - o.bulkCalls,
      indexItems - o.indexItems, deleteItems - o.deleteItems,
      bytesSent - o.bytesSent, busyNs - o.busyNs, fetchCalls - o.fetchCalls)
  }

  def snap: Counts = Counts(bulkCalls.get, indexItems.get,
    deleteItems.get, bytesSent.get, busyNs.get, fetchCalls.get)

  object Transport extends EsSink.Transport {
    def apply(lines: Seq[String]): Seq[Int] = {
      val t0 = System.nanoTime()
      var items = 0
      var bytes = 0L
      lines.foreach { l =>
        bytes += l.length + 1
        if (l.startsWith("{\"index\"")) { items += 1; indexItems.incrementAndGet() }
        else if (l.startsWith("{\"delete\"")) { items += 1; deleteItems.incrementAndGet() }
      }
      bulkCalls.incrementAndGet()
      bytesSent.addAndGet(bytes)
      val statuses = fault match {
        case "drop" => Seq.fill(items / 2)(200)
        case "4xx" => (0 until items).map(i => if (i % 10 == 0) 400 else 200)
        case _ => Seq.fill(items)(200)
      }
      busyNs.addAndGet(System.nanoTime() - t0)
      statuses
    }
  }

  object Fetch extends LinkRefresh.Fetch {
    def apply(fp: String, cached: Option[String]) = {
      fetchCalls.incrementAndGet()
      Some(LinkRefresh.FetchedLink("https://links.invalid/" + fp,
        cached.orElse(Some("fse-" + (fp.hashCode & 0x7fffffff)))))
    }
  }
}
