package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The registry of the persisted incremental index families: the ONE
  * place that decides which catalog tables a family owns. Every save,
  * load, ingest commit, corpus view, compaction and existence probe
  * reads a family's tables from its [[Family.Kind]] here, so no writer,
  * reader or maintenance pass can drift from what the family really
  * writes.
  *
  * A family under `prefix` owns:
  *   - its DATA tables `<prefix>_<suffix>`, in the kind's declared
  *     order (the order every batch commit zips its frames to; the
  *     first one is the family's signature table, whose partitions the
  *     multi-writer commit mapping is checked against);
  *   - `<prefix>_meta`, the one-row parameter record;
  *   - `<prefix>_tombstones`, the deleted-id set (tombstoned kinds);
  *   - `<prefix>_commits`, a multi-writer family's global batch-id
  *     mapping;
  *   - `<table>__compact`, the crash-recovery twin of each data table
  *     that a rewrite pass leaves behind while it runs.
  */
private[graft] object Family {

  /** Stands for the caller's id column in a table spec: the MinHash and
    * SimHash families key their tables on the id column the caller
    * indexed by, and [[Kind.keyedOn]] fills it in. */
  private val CallerId = "\u0000caller-id"

  /** One data table: its name suffix, its bucket (and sort) columns,
    * and the id column its tombstone anti-join keys on. */
  final case class Data(suffix: String, bucketCols: Seq[String], idCol: String) {
    private[Family] def keyedOn(id: String): Data = {
      def bind(c: String) = if (c == CallerId) id else c
      Data(suffix, bucketCols.map(bind), bind(idCol))
    }
  }

  /** One family kind. `name` completes the maintenance owner names
    * (`compact<name>`); `tombstoned` is false only for the components
    * family, whose labels are derived state with no delete path. */
  final case class Kind(name: String, data: Seq[Data], tombstoned: Boolean = true) {

    /** This kind with the caller's id column filled into its table
      * specs (a no-op for the kinds with a fixed internal id). */
    def keyedOn(idCol: String): Kind = copy(data = data.map(_.keyedOn(idCol)))

    /** Whether the table specs depend on the caller's id column, which
      * a maintenance pass then reads from the family's meta. */
    def keyedByCaller: Boolean = data.exists(d => d.idCol == CallerId)

    /** The data table names under `prefix`, in declared order. */
    def tables(prefix: String): Seq[String] = data.map(d => table(prefix, d.suffix))

    /** The table whose presence tells this kind apart from the others. */
    def signature(prefix: String): String = tables(prefix).head

    /** Every table the family may hold under `prefix`. */
    def declared(prefix: String): Seq[String] =
      tables(prefix) ++ Seq(meta(prefix)) ++
        (if (tombstoned) Seq(tombstones(prefix)) else Nil) ++
        Seq(commits(prefix)) ++ tables(prefix).map(compactTemp)

    /** One write per data table: `frames` in declared order, with their
      * observed row counts `rows` in the same order when known (empty
      * when not; see [[Layout.Write]]). */
    def writes(prefix: String, frames: Seq[DataFrame],
               rows: Seq[Long] = Nil): Seq[Layout.Write] =
      data.zip(frames).zipWithIndex.map { case ((d, df), i) =>
        Layout.Write(df, table(prefix, d.suffix), d.bucketCols, rows.lift(i)) }

    /** A batch save: overwrite the whole family with `frames` and its
      * one-row `meta`, overlapped through [[Layout.writeAll]] (meta goes
      * before the last data table, which runs on the caller's thread).
      * The caller holds the family's writer [[Fence]]. */
    def save(prefix: String, frames: Seq[DataFrame], meta: DataFrame,
             buckets: Int): Unit = {
      val w = writes(prefix, frames)
      Layout.writeAll(w.init ++ Seq(Layout.Write(meta, Family.meta(prefix), Nil), w.last),
        buckets, "overwrite")
    }

    /** The data tables as a reader sees them, in declared order: `rows`
      * applied to each (a corpus view's partition filter), then the
      * family's tombstoned ids anti-joined out ([[Tombstones.filter]]),
      * the set budget-checked once for all the tables. */
    def load(spark: SparkSession, prefix: String,
             rows: DataFrame => DataFrame = identity): Seq[DataFrame] = {
      val dead = Tombstones.budgeted(spark, prefix)
      data.map(d => Tombstones.antiJoin(
        rows(spark.table(table(prefix, d.suffix))), d.idCol, dead))
    }
  }

  val MinHash = Kind("Minhash", Seq(
    Data("bands", Seq("band", "bucket"), CallerId),
    Data("shingles", Seq(CallerId), CallerId)))
  /** SimHash and the media signature loops share this chunked layout. */
  val SimHash = Kind("Simhash", Seq(Data("chunked", Seq("chunk", "ckey"), CallerId)))
  val Containment = Kind("Containment", Seq(
    Data("posting", Seq("gram"), "id"), Data("base", Seq("id"), "id")))
  val Embed = Kind("Embed", Seq(
    Data("hashed", Seq("t", "h"), "id"), Data("vecs", Seq("id"), "id")))
  val Pq = Kind("Pq", Seq(Data("codes", Seq("cell"), "c_id")))
  val Sem = Kind("Sem", Seq(Data("docs", Seq("cell"), "id")))
  val Components = Kind("Cc", Seq(Data("labels", Seq("id"), "id")), tombstoned = false)

  val kinds: Seq[Kind] = Seq(MinHash, SimHash, Containment, Embed, Pq, Sem, Components)

  def table(prefix: String, suffix: String): String = s"${prefix}_$suffix"
  def meta(prefix: String): String = table(prefix, "meta")
  def tombstones(prefix: String): String = table(prefix, "tombstones")
  def commits(prefix: String): String = table(prefix, "commits")
  def compactTemp(table: String): String = table + "__compact"

  /** Every table any kind may hold under `prefix`. */
  def declared(prefix: String): Seq[String] = kinds.flatMap(_.declared(prefix)).distinct

  /** The warehouse directory of managed table `table`, qualified
    * against the session's CURRENT database (a non-default current db
    * lives in `<db>.db` below the warehouse). */
  def location(spark: SparkSession, table: String): org.apache.hadoop.fs.Path = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val db = spark.catalog.currentDatabase
    val base =
      if (db == "default") new org.apache.hadoop.fs.Path(wh)
      else new org.apache.hadoop.fs.Path(wh, s"${db.toLowerCase}.db")
    new org.apache.hadoop.fs.Path(base, table.toLowerCase)
  }
}
