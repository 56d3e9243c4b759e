package graft.util

import java.util.Locale

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** A bucketed catalog-table store: the persisted state of the
  * incremental stores (text and image signature, substring, quantile
  * sketch, unigram LM). A store family keeps only its derivation —
  * which rows go into which table; this class decides the rest, once:
  *
  *  - LAYOUT. The first write derives the bucket count from Catalyst's
  *    size estimate ([[CatalogStore.suggestedBuckets]]); every later
  *    write reads it back from the catalog and fails loudly on a table
  *    that is not bucketed (Spark rejects an append whose `bucketBy`
  *    differs, and a re-derived count would split the layout).
  *  - FAMILY. The parameters a store was built with (LSH `k`, seed
  *    length, sketch size, …) and its writer are table properties
  *    `graft.<ns>.<param>` on every table. Every absorb and every
  *    shard-against-store read checks them ([[requireFamily]]): a
  *    mismatch is refused (IllegalArgumentException — the silent
  *    alternative joins incompatible hashes or merges sketches of
  *    different sizes), and so is a MISSING family
  *    (IllegalStateException — a write interrupted between table
  *    creation and the property write, or a table another writer
  *    made).
  *  - REPLAY. [[CatalogStore.Scope.fresh]] anti-joins a batch against
  *    the ids a table already holds, per table, always: a replayed
  *    absorb (an at-least-once foreachBatch retry, a double call)
  *    appends nothing, and a retry after a crash between two tables'
  *    appends repairs exactly the table that is behind. Each parquet
  *    append commits at job granularity, so a failed append leaves
  *    nothing to undo. Cost: one projected id scan per table and
  *    absorb.
  *  - LIFECYCLE. Every write runs under the store's
  *    [[StoreLease.withLease]] — one lease per store, so paired tables
  *    move together. The replay guard is check-then-append, which only
  *    a single writer makes safe: an overlapping writer is refused
  *    loudly instead of double-inserting. Every cache a write persists
  *    ([[CatalogStore.Scope.cache]]) is released in `finally`, so a
  *    failed write leaves neither the lease nor a CacheManager entry
  *    behind.
  *
  * `parts` name the store's tables: part `p` is the table
  * `<name>_<p>` with files under `<path>/<p>`; the empty part is the
  * single table `name` itself, with files under `path`. */
final class CatalogStore private (spark: SparkSession, name: String,
                                  ns: String, writer: String,
                                  parts: Seq[String],
                                  family: Seq[(String, String)]) {

  private def table(part: String): String =
    if (part.isEmpty) name else s"${name}_$part"

  private def key(param: String): String =
    s"graft.$ns.${param.toLowerCase(Locale.ROOT)}"

  /** Refuse a store whose recorded family is missing or differs from
    * this call's, on every table. */
  def requireFamily(): Unit = for (p <- parts; (param, v) <- family) {
    val t = table(p)
    Bridge.tableProperty(spark, t, key(param)) match {
      case Some(stored) => require(stored == v,
        s"$t was built with $param=$stored but this call uses " +
          s"$param=$v (table property ${key(param)}) — a store read or " +
          "extended under other parameters silently mismatches (hashes " +
          s"never join, sketches stop merging). Pass the store's $param.")
      case None => throw new IllegalStateException(
        s"$t has no ${key(param)} table property: it was not written " +
          s"by $writer, or its write was interrupted before the family " +
          s"was recorded. Rebuild it with $writer.")
    }
  }

  /** (Re)build the store under `path`: the layout derives from the
    * estimated bytes of `sizing` × `expansion`. */
  def write(path: String, sizing: DataFrame, expansion: Double)
           (body: CatalogStore.Scope => Unit): Unit = {
    val nb = CatalogStore.suggestedBuckets(sizing, expansion = expansion)
    leased(writer, new CatalogStore.Scope(this, _ => nb,
      p => if (p.isEmpty) path else s"$path/$p"))(body)
  }

  /** Extend or rewrite the store as `verb`, after [[requireFamily]];
    * every table keeps its catalog layout and location (a rewrite
    * elsewhere would orphan the store's files). */
  def absorb(verb: String)(body: CatalogStore.Scope => Unit): Unit = {
    requireFamily()
    leased(verb, new CatalogStore.Scope(this, bucketCount, location))(body)
  }

  private def leased(verb: String, scope: CatalogStore.Scope)
                    (body: CatalogStore.Scope => Unit): Unit =
    StoreLease.withLease(spark, StoreLease.forTable(spark, name), verb) {
      _ => try body(scope) finally scope.release()
    }

  private def bucketCount(part: String): Int =
    Bridge.bucketCount(spark, table(part)).getOrElse(
      throw new IllegalStateException(s"${table(part)} is not a bucketed " +
        s"table — was the store written by $writer?"))

  private def location(part: String): String =
    Bridge.tableLocation(spark, table(part)).getOrElse(
      throw new IllegalStateException(s"${table(part)} has no storage " +
        s"location — was the store written by $writer?")).toString

  private def recordFamily(part: String): Unit = {
    def q(s: String) =
      "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    spark.sql(s"ALTER TABLE ${table(part)} SET TBLPROPERTIES(" +
      family.map { case (p, v) => s"${q(key(p))} = ${q(v)}" }
        .mkString(", ") + ")")
  }
}

object CatalogStore {

  /** A store of `writer` (also its lease verb) with tables `parts` and
    * family `params` (the writer is always part of the family), whose
    * property keys live under `graft.<ns>.`. */
  def apply(spark: SparkSession, name: String, ns: String, writer: String,
            parts: Seq[String], params: (String, Any)*): CatalogStore =
    new CatalogStore(spark, name, ns, writer, parts,
      ("writer" -> writer) +: params.map { case (k, v) => k -> v.toString })

  /** One write or absorb of a store, inside its lease. */
  final class Scope private[CatalogStore] (store: CatalogStore,
                                           buckets: String => Int,
                                           dir: String => String) {
    private val cached = ArrayBuffer.empty[DataFrame]

    /** Persist `df` for the rest of this write; released when it ends,
      * failed or not. */
    def cache(df: DataFrame): DataFrame = synchronized {
      val c = df.persist(StorageLevel.MEMORY_AND_DISK)
      cached += c
      c
    }

    private[CatalogStore] def release(): Unit =
      synchronized(cached.foreach(_.unpersist(blocking = false)))

    /** The rows of `docs` whose `idCol` is missing from at least one of
      * `parts`' tables — the replay guard. */
    def fresh(docs: DataFrame, idCol: String, parts: String*): DataFrame =
      docs.join(parts.map(p => docs.sparkSession.table(store.table(p))
          .select(col(idCol)).distinct()).reduce(_ intersect _),
        Seq(idCol), "left_anti")

    /** Replace `part`'s table with `df`, bucketed by `bucketCol` and
      * sorted by `sortCols` (default: the bucket column), and record
      * the family on it. */
    def overwrite(df: DataFrame, part: String, bucketCol: String,
                  sortCols: String*): Unit = {
      save(df.write.mode("overwrite").option("path", dir(part)), part,
        bucketCol, sortCols)
      store.recordFamily(part)
    }

    /** Append `df` to `part`'s table in its existing layout. */
    def append(df: DataFrame, part: String, bucketCol: String,
               sortCols: String*): Unit =
      save(df.write.mode("append"), part, bucketCol, sortCols)

    private def save(w: DataFrameWriter[Row], part: String,
                     bucketCol: String, sortCols: Seq[String]): Unit = {
      val sort = if (sortCols.isEmpty) Seq(bucketCol) else sortCols
      w.bucketBy(buckets(part), bucketCol).sortBy(sort.head, sort.tail: _*)
        .format("parquet").saveAsTable(store.table(part))
    }
  }

  /** Bucket count for a store's first write: estimated store bytes /
    * `targetBytes` per bucket, rounded UP to a power of two, floor 8.
    * The input-size estimate is Catalyst's
    * (`optimizedPlan.stats.sizeInBytes` — filter/column-pruned, no job
    * runs), scaled by `expansion` for the store's dominant table (text
    * shingles ≈ one 16-byte digest per corpus token, roughly 2× the raw
    * text; substring seeds ≈ 8×; image bands well under 1×).
    * Power-of-two so a later manual re-bucketing can split/merge
    * cleanly; capped at 2^20 buckets (beyond that, partition the store
    * by shard epoch instead — one table's bucket count should not be
    * the only scaling axis). The floor keeps tiny fixtures on an
    * 8-bucket layout. */
  def suggestedBuckets(df: DataFrame, targetBytes: Long = 256L << 20,
                       expansion: Double = 2.0): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val in = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val est = (BigDecimal(in) * expansion).toBigInt
    val need = ((est + targetBytes - 1) / targetBytes)
      .max(BigInt(8)).min(BigInt(1 << 20)).toInt
    var b = 8
    while (b < need) b <<= 1
    b
  }
}
