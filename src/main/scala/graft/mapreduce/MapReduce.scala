package graft.mapreduce

import java.nio.charset.StandardCharsets.UTF_8

import scala.reflect.ClassTag

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD

import graft.functions.Djb2

/** Spark-first re-expression of the reference MapReduce API
  * (/root/reference/mapreduce.h: `MR_Run` / `MR_Emit` / `MR_Partitioner` /
  * `MR_GetNext`).
  *
  * Semantic mapping:
  *  - map phase (one threadpool job per input split, mapreduce.c:176-180)
  *    → `RDD.flatMap`: one task per partition, cluster-wide.
  *  - `MR_Emit` into a mutex-guarded per-partition list (mapreduce.c:203)
  *    → the shuffle write; the djb2 partitioner (mapreduce.c:239) is
  *    preserved bit-for-bit via [[graft.functions.Djb2]].
  *  - reduce phase: per-key jobs draining `MR_GetNext` (mapreduce.c:183-191)
  *    → sort-based grouping (`repartitionAndSortWithinPartitions` +
  *    streaming run-detection), so a key's values are an iterator, never a
  *    materialized in-memory list — the property that lets a 100 TB reduce
  *    spill instead of OOM. The reference materializes all pairs in RAM;
  *    we intentionally do not.
  *
  * This facade is the compatibility surface for reference users. New code
  * should express the same jobs declaratively (see
  * `graft.operators.MapReduceQueries`) so Catalyst/Tungsten codegen and
  * partial aggregation apply; the facade exists for genuinely imperative
  * per-key reducers.
  */
object MapReduce {

  /** djb2-based partitioner, bit-compatible with `MR_Partitioner`. */
  final class Djb2Partitioner(val numParts: Int) extends Partitioner {
    override def numPartitions: Int = numParts
    override def getPartition(key: Any): Int =
      if (key == null) 0
      else Djb2.partition(key.toString.getBytes(UTF_8), numParts)
  }

  /** MR_Run: map `input` with `mapper` (emitting KV pairs), hash-partition
    * by key into `numParts` djb2 partitions, group each partition's pairs
    * by key, and fold each key's values with `reducer`.
    *
    * NULL keys, empty-string keys, AND null values are all dropped,
    * matching `MR_Emit` exactly (mapreduce.c:205: `key == NULL ||
    * value == NULL || strlen(key) == 0`).
    */
  def run[T, K: ClassTag: Ordering, V: ClassTag, O: ClassTag](
      input: RDD[T],
      mapper: T => IterableOnce[(K, V)],
      reducer: (K, Iterator[V]) => O,
      numParts: Int): RDD[O] = {
    val emitted = input
      .flatMap(mapper)
      .filter { case (k, v) => k != null && k != "" && v != null }
    emitted
      .repartitionAndSortWithinPartitions(new Djb2Partitioner(numParts))
      .mapPartitions { pairs =>
        new GroupedRunIterator(pairs).map { case (k, vs) => reducer(k, vs) }
      }
  }

  /** MR_Run with a combiner — the optimization the reference lacks: `merge`
    * runs map-side per partition before the shuffle, so only one value per
    * (partition, key) crosses the network instead of every emitted pair.
    * This is what makes wordcount at 100 TB shuffle the vocabulary, not
    * the corpus. Requires an associative, commutative `merge`. */
  def runCombined[T, K: ClassTag: Ordering, V: ClassTag](
      input: RDD[T],
      mapper: T => IterableOnce[(K, V)],
      merge: (V, V) => V,
      numParts: Int): RDD[(K, V)] =
    input
      .flatMap(mapper)
      .filter { case (k, v) => k != null && k != "" && v != null }
      .reduceByKey(new Djb2Partitioner(numParts), merge)

  /** MR_Run with secondary sort: within each key, `reducer` sees values
    * ordered by `secondary` — the classic MapReduce pattern for
    * first/last/transition logic, done by sorting the shuffle files
    * on the composite key instead of buffering per-key in memory. */
  def runSorted[T, K: Ordering, S: Ordering, V: ClassTag, O: ClassTag](
      input: RDD[T],
      mapper: T => IterableOnce[(K, (S, V))],
      reducer: (K, Iterator[V]) => O,
      numParts: Int): RDD[O] = {
    val emitted = input
      .flatMap(mapper)
      .filter { case (k, sv) => k != null && k != "" && sv != null && sv._2 != null }
      .map { case (k, (s, v)) => ((k, s), v) }
    val partitioner = new Partitioner {
      private val inner = new Djb2Partitioner(numParts)
      override def numPartitions: Int = numParts
      override def getPartition(key: Any): Int =
        inner.getPartition(key.asInstanceOf[(K, S)]._1)
    }
    emitted
      .repartitionAndSortWithinPartitions(partitioner)
      .mapPartitions { pairs =>
        val byKey = pairs.map { case ((k, _), v) => (k, v) }
        new GroupedRunIterator(byKey).map { case (k, vs) => reducer(k, vs) }
      }
  }

  /** Streams (key, values-iterator) runs out of a key-sorted iterator —
    * the reduce-side merge of classic MapReduce.
    *
    * SKEW CONTRACT: one key's run IS materialized in memory (the
    * ArrayBuffer below), so per-key memory is O(values of that key) — a
    * single pathologically hot key with more values than executor heap
    * will OOM here, exactly as the reference's per-key linked lists
    * would (mapreduce.c:203). The memory win over the reference is
    * per-PARTITION: other keys stream through, and the shuffle sort
    * spills. For skewed workloads use [[runCombined]] (map-side combine:
    * one value per (partition, key) crosses the shuffle, so the hot
    * key's run is num_partitions long, not num_records) or the
    * declarative `groupBy().agg()` path where Catalyst applies partial
    * aggregation automatically. MapReduceSpec pins both behaviors on a
    * deliberately hot key. */
  private final class GroupedRunIterator[K, V](underlying: Iterator[(K, V)])
      extends Iterator[(K, Iterator[V])] {
    private val it = underlying.buffered
    override def hasNext: Boolean = it.hasNext
    override def next(): (K, Iterator[V]) = {
      val key = it.head._1
      val run = scala.collection.mutable.ArrayBuffer.empty[V]
      while (it.hasNext && it.head._1 == key) run += it.next()._2
      (key, run.iterator)
    }
  }
}
