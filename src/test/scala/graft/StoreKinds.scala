package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.{CorpusStore, ManifestTable}
import graft.operators.CorpusStore.StoreLayout

/** Per-kind views of a corpus store's live rows, for the specs that check
  * which bucket dirs a layout put them in.
  */
trait StoreKinds { this: SparkSpec =>

  /** All live rows of one kind, WITH the p_b partition column recovered. */
  protected def kindRows(root: String, kind: String): Option[DataFrame] = {
    val dd = ManifestTable.dataDir(root)
    val files = CorpusStore.kindFiles(spark, root, kind)
    if (files.isEmpty) None
    else Some(spark.read.option("basePath", dd)
      .parquet(files.map(f => s"$dd/$f"): _*))
  }

  protected val KindCols = Map(
    "doc" -> Seq("doc_id", "lang", "source", "text", "text_md5", "tick"),
    "sh" -> Seq("doc_id", "shingles"),
    "band" -> Seq("doc_id", "band_id", "band_val"),
    "tomb" -> Seq("text_md5"))

  /** The kind's bucket expression under `l` — the read-side mirror of the
    * write-side `p_b` derivation in tick/compact.
    */
  protected def bucketExpr(kind: String, l: StoreLayout) = kind match {
    case "doc" | "tomb" => CorpusStore.md5Bucket(col("text_md5"), l)
    case "band" => CorpusStore.bandBucket(col("band_id"), col("band_val"), l)
    case "sh"   => CorpusStore.shingleBucket(col("doc_id"), l)
  }
}
