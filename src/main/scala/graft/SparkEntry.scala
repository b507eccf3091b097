package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{CurationOps, Extras, LayoutOps, MediaOps, PhotometryRel, PixelQueries, RecallQueries, Relational, Relational2, RuleFilterOps, StreamingQueries, TextOps, TimeSeries, TrainingOps, VectorOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is registered here as a named
  * query over the fixture tables; SQL-expressible ones carry equivalent ANSI
  * SQL for the driver's DuckDB differential oracle. Queries live in
  * `graft.queries.*`, one module per operator family.
  */
object SparkEntry {

  private def modules: Seq[(String, Seq[NamedQuery])] = Seq(
    "relational" -> Relational.all,
    "relational2" -> Relational2.all,
    "photometry_rel" -> PhotometryRel.all,
    "extras" -> Extras.all,
    "timeseries" -> TimeSeries.all,
    "text" -> TextOps.all,
    "vector" -> VectorOps.all,
    "pixel" -> PixelQueries.all,
    "streaming" -> StreamingQueries.all,
    "recall_certs" -> RecallQueries.all,
    "training" -> TrainingOps.all,
    "media" -> MediaOps.all,
    "layout" -> LayoutOps.all,
    "curation" -> CurationOps.all,
    "rulefilter" -> RuleFilterOps.all)

  private def catalog: Seq[NamedQuery] = modules.flatMap(_._2)

  /** Query name → operator family, for per-family bench rollups. */
  def family: Map[String, String] =
    modules.flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The "epoch photometry catalog" slice (SURVEY.md §7): filter → derived
    * magnitude columns → two-sided rank trim → top-k. */
  def entry(spark: SparkSession): DataFrame =
    PhotometryRel.all.find(_.name == "q22_catalog_trim").get
      .run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    catalog.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap

  /** Every query WITHOUT an oracle, with the reason the omission is
    * intentional and where its correctness is gated instead (a hash-gated
    * certificate query and/or a planted-truth ScalaTest) — so rows-only
    * entries in the driver's correctness snapshot are annotated, never
    * silently unverified. Dumped by Verify as oracle_free.json. */
  def oracleFree: Map[String, String] =
    catalog.filter(_.oracle.isEmpty)
      .map(q => q.name -> q.note.getOrElse("UNANNOTATED")).toMap

  /** The queries named in the comma-separated env var `envVar`, sorted
    * by name; every query when it is unset. */
  def select(envVar: String): Seq[(String, (SparkSession, String) => DataFrame)] =
    select(envVar, sys.env.get(envVar))

  /** [[select]] over an explicit value; `source` names it in the error.
    * Blank entries are ignored. An unknown name fails fast: a
    * silently-empty selection would read as a vacuous pass. */
  def select(source: String, value: Option[String])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val only = value.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- all.keySet
      require(unknown.isEmpty,
        s"$source names unknown queries: ${unknown.toSeq.sorted.mkString(",")}")
    }
    all.toSeq.filter(kv => only.forall(_(kv._1))).sortBy(_._1)
  }
}
