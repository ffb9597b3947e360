package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.lang.ref.Reference

import scala.jdk.CollectionConverters._

/** Peak live heap over the run, read after every query: the old
  * generation right after a full collection, taken while the query's
  * result DataFrame is still referenced.
  *
  * A reading counts what the result's plan holds (checkpointed and cached
  * stage blocks, broadcasts, state) and nothing the query has already let
  * go: a first collection finds the query's unreachable RDDs, Spark's
  * cleaner drops their blocks, and only then is the heap read. Without
  * that step a reading would depend on whether young collections during
  * the query had already freed those RDDs. Memory a query frees before it
  * returns is not seen. */
final class HeapPeak {
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq.filter { p =>
    p.getType == MemoryType.HEAP && (p.getName.contains("Old") || p.getName.contains("Tenured"))
  }
  private var peakBytes = 0L

  def sample(result: AnyRef): Unit = {
    System.gc()
    Thread.sleep(300) // the cleaner polls its reference queue every 100 ms
    System.gc()
    peakBytes = math.max(peakBytes, oldPools.map(_.getCollectionUsage.getUsed).sum)
    Reference.reachabilityFence(result)
  }

  def peakMb: Double = peakBytes / 1048576.0
}
