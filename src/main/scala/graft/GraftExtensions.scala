package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{MinHashSig, RelUrl, Slug}

/** SparkSessionExtensions entry point: registers the library's native
  * Catalyst functions so they're usable from SQL and `expr(...)`.
  *
  * Activate with either
  *   SparkSession.builder().withExtensions(new GraftExtensions) or
  *   --conf spark.sql.extensions=graft.GraftExtensions
  *
  * With `withExtensions` it also sizes Spark's JVM-wide generated-class
  * cache (the static conf `spark.sql.codegen.cache.maxEntries`, Spark's
  * default 100) to [[GraftExtensions.CodegenCacheEntries]], unless the
  * JVM system property is already set: the builder applies extensions
  * before it creates the `SparkConf`, which reads `spark.*` system
  * properties. An explicit `-D`, `--conf` or builder `.config(...)` still
  * wins. The program's working set is larger than 100 classes, so at the
  * default every warm rerun of the pipeline or the query suite evicts and
  * recompiles nearly all of its generated code (Janino on the driver, then
  * the JIT on every thread). With `--conf spark.sql.extensions=...` Spark
  * applies the extension after the `SparkContext` exists, too late for a
  * static conf: callers using that form set the conf themselves.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    sys.props.getOrElseUpdate(GraftExtensions.CodegenCacheKey,
      GraftExtensions.CodegenCacheEntries.toString)
    val slug: (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
      (FunctionIdentifier("graft_slug"),
        info("graft_slug", "_FUNC_(str) - COIN-style URI slug"),
        (children: Seq[Expression]) => Slug(children.head))
    val minhash: (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
      (FunctionIdentifier("minhash_sig"),
        info("minhash_sig", "_FUNC_(str) - 64-perm MinHash signature aggregate"),
        (children: Seq[Expression]) => MinHashSig(children.head))
    val relurl: (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
      (FunctionIdentifier("relurl"),
        info("relurl", "_FUNC_(url, start) - relative URL from start to url"),
        (children: Seq[Expression]) => RelUrl(children(0), children(1)))
    ext.injectFunction(slug)
    ext.injectFunction(minhash)
    ext.injectFunction(relurl)
  }
}

object GraftExtensions {
  final val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Generated-class cache size. Counted with nothing evicted, a first
    * KG pipeline run compiles about 150 distinct classes and a first pass
    * over six registry queries about 200, so Spark's 100 evicts on almost
    * every lookup: a warm pipeline rerun recompiles 147 classes and a warm
    * query pass 63-75 at 100, 4-8 at 1000. */
  final val CodegenCacheEntries = 1000
}
