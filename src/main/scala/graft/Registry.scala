package graft

import graft.queries._
import org.apache.spark.sql.SparkSession

/** The declared query surface and what the two driver mains share with it:
  * the spec list assembled from the family objects, the one subset filter,
  * and the local session.
  */
object Registry {

  /** Every declared query, family by family. A repeated name fails here: a
    * map built from the list would silently keep only the last of the two.
    */
  val specs: Seq[QuerySpec] = {
    val all = MarketQueries.specs ++ TpchQueries.specs ++ EventQueries.specs ++
      TextQueries.specs ++ SimilarityQueries.specs ++ GraphQueries.specs ++
      MediaQueries.specs ++ LayoutQueries.specs
    val repeated = all.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(repeated.isEmpty, s"query names declared twice: ${repeated.toSeq.sorted.mkString(", ")}")
    all
  }

  /** The comma-separated query names in `SPARK_GRAFT_ONLY`, or None when it is
    * unset (the full surface). A name no spec carries, or a value naming no
    * query at all, throws instead of silently running less than asked.
    */
  def only(env: Map[String, String] = sys.env): Option[Set[String]] =
    env.get("SPARK_GRAFT_ONLY").map { v =>
      val names = v.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names -- specs.map(_.name)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
      require(names.nonEmpty, "SPARK_GRAFT_ONLY is set but names no query")
      names
    }

  /** The specs `only` selects, in declaration order. */
  def selected(only: Option[Set[String]]): Seq[QuerySpec] =
    only.fold(specs)(names => specs.filter(s => names(s.name)))

  /** The local session both driver mains run in: `SPARK_GRAFT_CPUS` cores and
    * shuffle partitions, UTC. The codegen class cache is raised from its
    * default of 100 entries, which evicts between passes over the surface and
    * puts janino recompiles of the widest stages back into timed numbers.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
