package graft.storage

import org.apache.spark.sql.types.StructType

/**
 * One store table, declared once: its directory name and its columns as
 * a DDL schema, in the order a read returns them — the data columns as
 * the writer writes them, then the partition columns. Partition columns
 * carry the writer's types, so a directory value is never re-typed by
 * what it looks like (tenant `007` stays the string `"007"`).
 *
 * A store table lives at `<store path>/<name>`; an `atRoot` table (the
 * raw data and the rollup tiers, whose location is the caller's own
 * path) lives at the path itself, and `name` only names it.
 * [[IndexStore.table]] opens a table with its declared schema, so no
 * open runs a schema-inference job.
 */
final case class StoreTable(name: String, ddl: String, atRoot: Boolean = false) {
  val schema: StructType = StructType.fromDDL(ddl)

  def at(path: String): String = if (atRoot) path else s"$path/$name"

  /** `values` paired with this table's column names, in order — the
    * (field, value) row of a meta table. */
  def row(values: Int*): Seq[(String, Int)] = schema.fieldNames.toSeq.zip(values)
}

/** The declared tables of every store family. `StoreLayoutSpec` checks
  * each declaration against what the family's writers put on disk. */
object StoreTables {

  /** A store's single-row build-parameter table: one int column per
    * field ([[IndexStore.writeMeta]]). */
  def meta(fields: String*): StoreTable =
    StoreTable("meta", fields.map(f => s"$f INT").mkString(", "))

  /** The cell-partitioned stores of `operators/Similarity`: IVF, IVF-PQ,
    * residual IVF-PQ and PCA-IVF. The families share every table but
    * `vectors`, whose payload columns differ. */
  object Cells {
    val IvfVectors = StoreTable("vectors", "vec_id BIGINT, embedding ARRAY<FLOAT>, cell INT")
    val PqVectors = StoreTable("vectors", "vec_id BIGINT, embedding ARRAY<FLOAT>, codes ARRAY<INT>, cell INT")
    val PcaVectors = StoreTable("vectors",
      "vec_id BIGINT, embedding ARRAY<FLOAT>, pvec ARRAY<DOUBLE>, cell INT")
    /** The id column every `vectors` table leads with, SRP's too: what
      * the family-blind replay screen and delete registry read. */
    val VectorIds = StoreTable("vectors", "vec_id BIGINT")
    val Centroids = StoreTable("centroids", "cell INT, centroid ARRAY<DOUBLE>")
    val Coarse = StoreTable("coarse", "coarse INT, centroid ARRAY<DOUBLE>, k_child INT")
    val CellFacts = StoreTable("cellfacts", "cell INT, n BIGINT, sums ARRAY<DECIMAL(38,10)>")
    val ResidCb = StoreTable("residcb", "js INT, code INT, cvec ARRAY<DOUBLE>")
    val PcaModel = StoreTable("pcamodel", "c INT, component ARRAY<DOUBLE>, energy DOUBLE")
    val DeletedVecs = StoreTable("deleted_vecs", "vec_id BIGINT")
  }

  /** The SRP store: hyperplane-bucketed vectors (tombstones are
    * [[Cells.DeletedVecs]]). */
  object Srp {
    /** A bucket is `numPlanes` sign bits: an INT below 32 planes, so a
      * bucket set pushes down as a plain `bucket IN` partition filter. */
    def vectors(numPlanes: Int): StoreTable = StoreTable("vectors",
      s"vec_id BIGINT, embedding ARRAY<FLOAT>, bucket ${if (numPlanes < 32) "INT" else "BIGINT"}")
    val Planes = StoreTable("planes", "pid INT, plane ARRAY<DOUBLE>")
  }

  /** The near-dup store of `operators/Dedup`. */
  object NearDup {
    val Bands = StoreTable("bands", "doc_id BIGINT, band INT, band_hash BIGINT, bucket INT")
    /** One MinHash column per permutation: bands × rows per band. */
    def signatures(numPerms: Int): StoreTable = StoreTable("signatures",
      ("doc_id BIGINT" +: (0 until numPerms).map(i => s"mh$i BIGINT")).mkString(", "))
    val Shingles = StoreTable("shingles", "doc_id BIGINT, h BIGINT")
    val Sizes = StoreTable("sizes", "doc_id BIGINT, n BIGINT")
    val Meta = meta("shingle_k", "bands", "rows_per_band")
    val DeletedDocs = StoreTable("deleted_docs", "doc_id BIGINT")
  }

  /** The BM25 store of `operators/Retrieval`. */
  object Bm25 {
    val Postings = StoreTable("postings", "doc_id BIGINT, token STRING, tf BIGINT, dl BIGINT, bucket INT")
    val DocStats = StoreTable("docstats", "doc_id BIGINT, dl BIGINT")
    val CorpusStats = StoreTable("corpusstats", "n_docs BIGINT, dl_sum BIGINT")
    val Meta = meta("buckets")
    val DeletedDocs = StoreTable("deleted_docs", "doc_id BIGINT")
  }

  /** The persisted tag index ([[TagIndex]]). */
  object Tags {
    val Entries = StoreTable("entries", "tenant_id STRING, mtype INT, metric STRING, tag_name STRING, " +
      "tag_value STRING, bucket INT")
    val Metrics = StoreTable("metrics", "tenant_id STRING, mtype INT, metric STRING, n_tags BIGINT")
    val Tombstones = StoreTable("tombstones", "tenant_id STRING")
    val Meta = meta("buckets")
    val DeletedIds = StoreTable("deleted_ids", "tenant_id STRING, mtype INT, metric STRING")
  }

  /** The token-count snapshot of `streaming/StreamingHeavyHitters`, at
    * the caller's path. */
  val HeavyHitters = StoreTable("snapshot", "token STRING, cnt BIGINT", atRoot = true)

  /** The metrics store of `api/MetricsService`: raw data ([[GraftStorage]]),
    * the metric catalog and the tenants. */
  object Metrics {
    private[storage] val Slices = "tenant_id STRING, mtype INT, time_slice BIGINT"
    val Raw = StoreTable("data", "metric STRING, time BIGINT, n_value DOUBLE, l_value BIGINT, " +
      "avail INT, s_value STRING, tags MAP<STRING, STRING>, ingest_seq BIGINT, " + Slices,
      atRoot = true)
    val Catalog = StoreTable("metrics", "tenant_id STRING, mtype INT, metric STRING, " +
      "tags MAP<STRING, STRING>, data_retention INT, ingest_seq BIGINT")
    val Tenants = StoreTable("tenants", "id STRING, retentions MAP<STRING, INT>, ingest_seq BIGINT")
  }

  /** The rollup tiers ([[GraftStorage.writeRollup]] and its siblings),
    * each at its own path and partitioned like the raw data. */
  object Tiers {
    import Metrics.Slices
    val Sums = StoreTable("sums", "metric STRING, hour BIGINT, samples BIGINT, " +
      s"min_v DOUBLE, max_v DOUBLE, sum_v DECIMAL(38,10), $Slices", atRoot = true)
    /** The value and the rate distribution tiers. */
    val Hist = StoreTable("hist", s"metric STRING, hour BIGINT, bin BIGINT, cnt BIGINT, $Slices",
      atRoot = true)
    /** A distribution tier's bin edges, beside its partitions. */
    val HistMeta = StoreTable("_histmeta", "v_min DOUBLE, v_max DOUBLE, bins INT")
    val Avail = StoreTable("avail", "metric STRING, hour BIGINT, up_ms BIGINT, down_ms BIGINT, " +
      "unknown_ms BIGINT, admin_ms BIGINT, last_not_uptime BIGINT, not_up_count BIGINT, " +
      s"samples BIGINT, first_ts BIGINT, first_state INT, last_state INT, $Slices", atRoot = true)
    val CounterIncrease = StoreTable("counter_increase", "metric STRING, hour BIGINT, " +
      "increase BIGINT, n_resets BIGINT, n_deltas BIGINT, first_val BIGINT, last_val BIGINT, " +
      s"samples BIGINT, $Slices", atRoot = true)
    val Rate = StoreTable("rate", "metric STRING, hour BIGINT, n_pairs BIGINT, min_r DOUBLE, " +
      "max_r DOUBLE, sum_r DECIMAL(38,10), first_ts BIGINT, first_val DOUBLE, last_ts BIGINT, " +
      s"last_val DOUBLE, samples BIGINT, $Slices", atRoot = true)
  }
}
