package graft
import scala.collection.immutable.VectorMap
import org.apache.spark.sql.{SparkSession, DataFrame}

/** One registered query: its Spark form (session, testdata dir) and the
  * DuckDB SQL that must return the same rows over the same parquet tables. */
final case class QuerySpec(name: String, run: (SparkSession, String) => DataFrame,
    oracle: String)

object QuerySpec {
  /** The testdata table `name` under `dir` (`<dir>/<name>.parquet`): the one
    * reader every registered query uses. */
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** `Corpus.Stopwords` as a DuckDB list literal, for the oracles. */
  private[graft] val StopwordsSql: String =
    graft.corpus.Corpus.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
}

/** Entry points: the flagship job and the query registry (SURVEY.md §7). */
object SparkEntry {
  /** Flagship: synthesize the image+caption corpus, build per-entity×timestamp
    * feature vectors (lag/backfill/session/dim-broadcast), attach them to
    * as-of probes. Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    graft.features.FeaturePipeline.flagship(
      spark, graft.corpus.Corpus.Params(rows = 2000L, entities = 20))

  /** Local parallelism of the driver mains (`graft.Verify`, `graft.Bench`):
    * SPARK_GRAFT_CPUS, else every processor the JVM sees. */
  private[graft] def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The query registry: one entry per implemented operator from SURVEY.md
    * §2, each with its oracle, in run order. */
  val specs: Seq[QuerySpec] = checked(
    QueriesRel.specs ++ QueriesAgg.specs ++ QueriesText.specs ++
      QueriesCorpus.specs ++ QueriesMisc.specs ++ QueriesExt.specs ++
      QueriesR3.specs ++ QueriesR4.specs ++ QueriesR5.specs)

  /** `specs` unchanged, or an IllegalStateException naming every query whose
    * name is taken twice or whose oracle is empty. */
  private[graft] def checked(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val names = specs.map(_.name)
    val problems = names.diff(names.distinct).distinct.map(n => s"duplicate query name $n") ++
      specs.filter(q => q.oracle == null || q.oracle.trim.isEmpty)
        .map(q => s"query ${q.name} has an empty oracle")
    if (problems.nonEmpty)
      throw new IllegalStateException("query registry: " + problems.mkString("; "))
    specs
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    VectorMap.from(specs.map(q => q.name -> q.run))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] = VectorMap.from(specs.map(q => q.name -> q.oracle))
}
