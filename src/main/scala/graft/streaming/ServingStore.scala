package graft.streaming

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators.{AlsScoring, ModelCodec}

/** The served-model store — Spark's stand-in for Flink queryable state
  * (SURVEY.md §7.3).
  *
  * Reference semantics (als-ms/utils/QueryClientHelper.java:104-139): a
  * client serializes a key, RPCs the TaskManager holding that key's
  * `ValueState`, awaits with a timeout, and maps `UnknownKeyOrNamespace` to
  * `Optional.empty`. The state itself is written by
  * `keyBy(0).asQueryableState(...)` (ALSKafkaConsumer.java:85-92) with
  * latest-value-wins per key.
  *
  * Spark re-design: state is materialized per micro-batch by
  * [[ModelConsumer]] via `foreachBatch` upserts into this store; reads are
  * in-process map lookups (`Option` mirrors `Optional.empty` absent-key
  * semantics). Freshness is bounded by the trigger interval instead of
  * per-record — the documented semantic delta (SURVEY.md §7.3).
  *
  * Scale note: on a real cluster this trait's impl would be an external KV
  * (the upsert already arrives as a compacted per-key delta, tiny relative
  * to the fact data); the in-memory [[TrieMapServingStore]] is the
  * single-process impl, BOUNDED by an explicit byte budget — a 100M-key
  * model must fail loudly at the put that crosses the budget, not OOM the
  * driver minutes later. [[ServingStore.read]] is the Spark loops' one
  * read per micro-batch, relational so scoring and SGD run as joins.
  */
trait ServingStore[K, V] {
  def get(key: K): Option[V]
  def put(key: K, value: V): Unit
  def size: Int
  def snapshot: Map[K, V]
}

/** Thread-safe in-memory latest-value store with byte accounting.
  *
  * Every put is weighed ([[TrieMapServingStore.defaultWeigh]]) and the
  * running total compared to `maxBytes`; a put that would cross the budget
  * throws IllegalStateException naming the key, the budget, and the remedy
  * — the loud-rejection contract. Replacing an existing key re-weighs the
  * entry (a SHRINKING update frees budget); reads stay lock-free on the
  * TrieMap, only the accounting path synchronizes (upserts arrive as one
  * driver-side micro-batch loop, never hot). */
final class TrieMapServingStore[K, V](
    val maxBytes: Long = TrieMapServingStore.DefaultMaxBytes)
    extends ServingStore[K, V] {
  import TrieMapServingStore.defaultWeigh
  private val m = TrieMap.empty[K, V]
  private var used = 0L
  override def get(key: K): Option[V] = m.get(key)
  override def put(key: K, value: V): Unit = synchronized {
    val next = used + defaultWeigh(key, value) -
      m.get(key).map(defaultWeigh(key, _)).getOrElse(0L)
    if (next > maxBytes) {
      throw new IllegalStateException(
        s"ServingStore over budget: key '$key' would bring the store to " +
          s"$next bytes (cap $maxBytes, ${m.size} keys). The in-memory " +
          "store is for driver-sized models; raise maxBytes deliberately " +
          "or plug a persistent ServingStore impl for models this large.")
    }
    used = next
    m.update(key, value)
  }
  /** Current accounted payload bytes (estimate; see the weigher). */
  def bytes: Long = synchronized { used }
  override def size: Int = m.size
  override def snapshot: Map[K, V] = m.readOnlySnapshot().toMap
}

object TrieMapServingStore {

  /** 1 GiB — comfortably a driver-sized model (~10M 12-dim double
    * factor vectors), far below the bench/driver heap. */
  val DefaultMaxBytes: Long = 1L << 30

  /** JVM-shape estimate of an entry's heap cost: object headers plus the
    * payload of the serving types (String keys, Array[Double] values);
    * anything else charges a flat object cost. Deliberately a floor-ish
    * estimate used for budget ACCOUNTING, not allocation. */
  def defaultWeigh[K, V](k: K, v: V): Long = {
    def one(x: Any): Long = x match {
      case s: String => 40L + 2L * s.length
      case a: Array[Double] => 16L + 8L * a.length
      case _ => 64L
    }
    one(k) + one(v) + 40L // TrieMap node + entry overhead
  }
}

object ServingStore {

  /** A factor-model store: state key ([[graft.operators.ModelCodec.key]])
    * -> factor vector, exactly the reference's
    * `ValueState<Tuple2<String,String>>` payload but typed. */
  type FactorStore = ServingStore[String, Array[Double]]

  def factorStore(maxBytes: Long = TrieMapServingStore.DefaultMaxBytes)
      : TrieMapServingStore[String, Array[Double]] =
    new TrieMapServingStore[String, Array[Double]](maxBytes)

  /** Upsert a micro-batch of (key STRING, factors ARRAY<DOUBLE>) rows.
    * The batch is already compacted to one row per key by the consumer, so
    * the collect here moves only |updated keys| rows to the store — never
    * the stream itself. Rows with a null key or null factors (malformed
    * wire records) are skipped: one poison record must not kill the
    * streaming query, and at-least-once replay would re-deliver it. */
  def upsertBatch(store: FactorStore, batch: DataFrame): Unit =
    batch.select("key", "factors").collect().foreach { r: Row =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        store.put(r.getString(0), r.getSeq[Double](1).toArray)
      }
    }

  /** One read of the served model: the factor tables (user_id, uf) and
    * (item_id, itf) and the (user, item) MEAN rows, a mean None when not
    * served. All four come from ONE `snapshot`, so they are one version of
    * the store. */
  final case class Model(userF: DataFrame, itemF: DataFrame,
                         meanU: Option[Array[Double]],
                         meanI: Option[Array[Double]])

  def read(spark: SparkSession, store: FactorStore): Model = {
    import spark.implicits._
    val snap = store.snapshot
    // the relational face of the served model (SURVEY.md §2.3 J1): the
    // snapshot as one per-batch LocalRelation of (key, factors)
    val kv = snap.toSeq.toDF("key", "factors")
    Model(ModelCodec.keyedFactors(kv, ModelCodec.User, "user_id", "uf"),
      ModelCodec.keyedFactors(kv, ModelCodec.Item, "item_id", "itf"),
      snap.get(ModelCodec.MeanU), snap.get(ModelCodec.MeanI))
  }

  /** The per-micro-batch prefix of the SGD and MSE loops: parse the
    * "user,item,rating" lines (malformed rows dropped), [[read]] the model
    * once, and score them with [[graft.operators.AlsScoring.predictions]].
    * Returns the scored ratings and the model they were scored against. */
  def scoreBatch(lines: DataFrame, store: FactorStore): (DataFrame, Model) = {
    val m = read(lines.sparkSession, store)
    (AlsScoring.predictions(ModelCodec.parseRatings(lines), m.userF, m.itemF,
      m.meanU, m.meanI), m)
  }
}
