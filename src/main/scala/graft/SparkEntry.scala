package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Pipeline, Q, Relational, Tables}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  private val allQ: Seq[Q] = {
    val qs = Relational.all ++ Pipeline.all
    // toMap would silently drop a name collision — fail loudly instead
    require(qs.map(_.name).distinct.size == qs.size,
      "duplicate query names: " + qs.groupBy(_.name).collect {
        case (n, g) if g.size > 1 => n
      }.mkString(", "))
    qs
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The minimum end-to-end slice from SURVEY.md §7.3: scan → tokenize
    * (UDTF shape via explode) → hash agg → top-k.
    */
  def entry(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    Graft.register(spark)
    Tables.file(spark, "/root/testdata/sf0.001/documents.parquet")
      .select(explode(graft.functions.tokenize_ja_neologd(col("text"))).as("token"))
      .groupBy("token").count()
      .orderBy(desc("count"), asc("token"))
      .limit(20)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQ.map(q => q.name -> q.run).toMap

  /** Sorted names of the queries a harness main runs: the exact names in
    * `only` (comma-separated, as SPARK_GRAFT_ONLY carries them), or every
    * query when it is unset. An unknown name or an empty list throws
    * IllegalArgumentException, so a typo cannot shrink a run to nothing.
    */
  def selected(only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Seq[String] = {
    val all = allQ.map(_.name)
    only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq) match {
      case None => all.sorted
      case Some(names) =>
        val unknown = names.filterNot(all.toSet)
        if (names.isEmpty || unknown.nonEmpty)
          throw new IllegalArgumentException(
            if (names.isEmpty) s"no query named in '${only.get}'"
            else "unknown query name(s): " + unknown.mkString(", "))
        names.distinct.sorted
    }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    allQ.collect { case Q(name, _, Some(sql)) => name -> sql }.toMap
}
