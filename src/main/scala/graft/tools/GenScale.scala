package graft.tools

import graft.{Session, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Tile the driver fixture N× into a larger scale factor for growth-slope
  * benchmarking (`runMain graft.tools.GenScale <srcDir> <outDir> <copies>`).
  *
  * The driver ships sf0.001/0.01/0.1 only; the scale story needs a ~sf1
  * measurement. Naive row duplication would corrupt the workload SHAPE:
  * duplicated documents would fuse dedup groups (pair counts grow
  * quadratically in copy count), identical embeddings would turn every
  * vector into a 10-way near-dup cluster, and reused keys would fan joins
  * out 10×. Each copy is therefore mapped into its own disjoint key/content
  * space so that per-copy workload structure is EXACTLY the sf0.1 workload
  * and cross-copy interaction is nil — the honest model of "same corpus
  * statistics, 10× the volume":
  *
  *  - join keys shift by copy × 10^ceil(log10(max+1)) — referential
  *    integrity holds within a copy, never across copies;
  *  - document text gets a per-copy vocabulary bijection (word → word +
  *    "x<c>"), preserving every within-copy shingle/dup relationship
  *    (bijections preserve n-gram equality) while making cross-copy
  *    shingle sets disjoint; n_chars is recomputed;
  *  - embeddings get a per-copy dimension rotation — rotations preserve
  *    all within-copy dot products and norms exactly, while rotated
  *    Gaussian vectors are uncorrelated with their originals, so
  *    cross-copy cosine collapses to noise;
  *  - region/nation stay single-copy (dimension tables don't scale).
  *
  * Events keep their time range (10× users in the same window — event
  * density grows, per-user session structure is untouched).
  */
object GenScale {
  private def pow10Above(max: Long): Long = {
    var p = 1L
    while (p <= max) p *= 10
    p
  }

  private def shifted(df: DataFrame, copies: Int, keys: Map[String, Long])(
      perCopy: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until copies).map { c =>
      val base = keys.foldLeft(df) { case (d, (k, off)) =>
        d.withColumn(k, col(k) + lit(off * c))
      }
      perCopy(base, c)
    }.reduce(_ unionAll _)

  def main(args: Array[String]): Unit = {
    val Array(src, out, copiesStr) = args.take(3)
    val copies = copiesStr.toInt
    val spark = Session.local(Session.cpus)

    def maxOf(df: DataFrame, k: String): Long =
      df.agg(max(col(k))).head().getLong(0)

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[genscale] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    // dimension tables: one copy
    write("region", Tables.region(spark, src))
    write("nation", Tables.nation(spark, src))

    val cust = Tables.customer(spark, src)
    val supp = Tables.supplier(spark, src)
    val part = Tables.part(spark, src)
    val ords = Tables.orders(spark, src)
    val line = Tables.lineitem(spark, src)
    val custOff = pow10Above(maxOf(cust, "c_custkey"))
    val suppOff = pow10Above(maxOf(supp, "s_suppkey"))
    val partOff = pow10Above(maxOf(part, "p_partkey"))
    val ordOff = pow10Above(maxOf(ords, "o_orderkey"))

    write("customer", shifted(cust, copies, Map("c_custkey" -> custOff))((d, _) => d))
    write("supplier", shifted(supp, copies, Map("s_suppkey" -> suppOff))((d, _) => d))
    write("part", shifted(part, copies, Map("p_partkey" -> partOff))((d, _) => d))
    write("orders", shifted(ords, copies,
      Map("o_orderkey" -> ordOff, "o_custkey" -> custOff))((d, _) => d))
    write("lineitem", shifted(line, copies,
      Map("l_orderkey" -> ordOff, "l_partkey" -> partOff,
        "l_suppkey" -> suppOff))((d, _) => d))

    val ev = Tables.events(spark, src)
    val evOff = pow10Above(maxOf(ev, "event_id"))
    val userOff = pow10Above(maxOf(ev, "user_id"))
    write("events", shifted(ev, copies,
      Map("event_id" -> evOff, "user_id" -> userOff))((d, _) => d))

    val docs = Tables.documents(spark, src)
    val docOff = pow10Above(maxOf(docs, "doc_id"))
    write("documents", shifted(docs, copies, Map("doc_id" -> docOff)) {
      (d, c) =>
        if (c == 0) d
        else d
          .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1x$c"))
          .withColumn("n_chars", length(col("text")).cast("long"))
    })

    val emb = Tables.embeddings(spark, src)
    val vecOff = pow10Above(maxOf(emb, "vec_id"))
    write("embeddings", shifted(emb, copies, Map("vec_id" -> vecOff)) {
      (d, c) =>
        if (c == 0) d
        else {
          // signed cyclic shift: the shift alone repeats every 64
          // copies (copies c and c+64 would carry IDENTICAL vectors —
          // cross-copy exact dups corrupting the near-dup workload at
          // 100 copies), so compose it with a per-copy ±1 diagonal
          // keyed by an odd-multiplier hash of c (unique mod 2³¹, so
          // no two copies share both shift and signs). A signed
          // permutation is still orthogonal: within-copy dot products
          // and norms are preserved EXACTLY, cross-copy cosine
          // collapses to noise.
          val rot = (7 * c) % 64
          val seed = c * 2654435761L
          // the outer cast pins the element type back to the SOURCE's
          // (float in the driver fixture): the ±1 multiply would
          // otherwise widen to double and every reader with a pinned
          // float schema (the streaming source) would fail on the file
          val elem = d.schema("embedding").dataType
            .asInstanceOf[org.apache.spark.sql.types.ArrayType]
            .elementType.sql
          d.withColumn("embedding", expr(
            s"""transform(sequence(0, size(embedding) - 1),
                i -> cast(element_at(embedding, ((i + $rot) % size(embedding)) + 1)
                     * (1 - 2 * cast(shiftright(${seed}L, cast(i % 31 as int)) & 1 as int)) as $elem))"""))
        }
    })

    spark.stop()
  }
}
