package graft.plans

import graft.functions.DotProduct
import graft.operators.{Dedup, TextAnalysis => TA}
import org.apache.spark.sql.{Column, GraftBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/**
 * SparkSessionExtensions installer: registers the engine's custom Catalyst
 * expression(s) AND the curation kit's column compositions as SQL
 * functions, so a pure-SQL user gets the same surface the Column API
 * exposes (`spark.sql("SELECT graft_redact_pii(text) ...")`). Activate
 * with `spark.sql.extensions=graft.plans.GraftExtensions` at session
 * build time.
 *
 * The composed functions stay zero-UDF: each builder maps the child
 * expressions through the library's own Column functions (via
 * [[GraftBridge]]), so SQL calls produce the identical codegen'd Catalyst
 * tree the DataFrame API produces — same plans, same oracle-checked
 * semantics, no interpretation penalty.
 *
 * It also names [[graft.NioLocalFileSystem]] as the context's `file://`
 * filesystem (unless the session set `fs.file.impl` itself): local writes
 * then set permissions in-process instead of forking `chmod` per file.
 * Extensions are applied right after the SparkContext starts, before the
 * session's shared state first opens a filesystem, so every engine
 * session — whoever builds it — writes through it.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Register a 1-arg Column composition under `name`. */
  private def fn1(ext: SparkSessionExtensions, name: String,
      f: Column => Column): Unit =
    ext.injectFunction((
      FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, name),
      (children: Seq[Expression]) => {
        require(children.length == 1, s"$name takes exactly 1 argument")
        GraftBridge.expressionEager(f(GraftBridge.column(children.head)))
      }))

  override def apply(ext: SparkSessionExtensions): Unit = {
    org.apache.spark.SparkContext.getOrCreate().hadoopConfiguration
      .setIfUnset("fs.file.impl", classOf[graft.NioLocalFileSystem].getName)
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "graft_dot takes exactly 2 arguments")
        DotProduct(children.head, children(1))
      }))
    // The text-curation kit, SQL-first: normalization, fingerprint,
    // quality gate, language ID, PII scrub, URL canonicalization.
    fn1(ext, "graft_clean_text", TA.cleanText)
    fn1(ext, "graft_fingerprint", Dedup.fingerprint)
    fn1(ext, "graft_quality", TA.qualityScore)
    fn1(ext, "graft_lang_id", TA.langId)
    fn1(ext, "graft_redact_pii", TA.redactPii)
    fn1(ext, "graft_canonical_host", TA.canonicalHost)
    fn1(ext, "graft_strip_html", TA.stripHtml)
    fn1(ext, "graft_simhash", Dedup.simHash16Portable)
    // the portable 60-bit hash itself, SQL-first (the engine's
    // cross-engine verification primitive)
    fn1(ext, "graft_portable_hash", Dedup.portableHash64)
  }
}
