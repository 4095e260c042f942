package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Catalyst.{column, expression}
import graft.functions.HashEmbed

/** Text → vector: deterministic hashing-trick document embeddings — the
  * missing link between the raw-text head of the pipeline and the
  * vector stack ([[Similarity]] ANN / SemDeDup / kNN), which otherwise
  * assumes an embedding column already exists. Public recipe: the
  * feature-hashing sentence vector (Weinberger et al. 2009 "Feature
  * Hashing for Large Scale Multitask Learning"; Joulin et al. 2016 —
  * fastText averages learned bucket vectors, this is the learn-nothing
  * signed-count degenerate case that needs no training pass).
  *
  * Every step is pinned integer arithmetic (see
  * [[graft.functions.HashEmbed]]) so the DuckDB oracle re-derives the
  * vectors exactly: gram instance → md5-prefix-32 → bucket `h % dim`,
  * sign `+1 iff (h / dim) % 2 == 0`, summed into a dense `int[dim]`.
  * The normalized double vector divides each count by the L2 norm —
  * one IEEE division per component of exact integers, reproducible
  * bit-for-bit on any engine, rounded to 6 for the graded hash.
  *
  * Scale shape: ONE text scan, zero shuffle at any corpus size — the
  * embedding is a per-row projection, one native pass per row (an
  * explode → groupBy formulation would shuffle gram instances). Feeding
  * `ivfIndexTopK`/`semDedup` from
  * raw text is `hashedEmbeddings(docs) → the existing vector operator`;
  * the embedding column's type matches the `embeddings` table contract
  * (`array<double>`).
  */
object Embeddings {

  /** Dense signed-count embedding as a Column (`array<int>`, length
    * `dim`): one native pass per row, spec-pinned bit-equal to an HOF
    * scatter fold (NativeEquivalenceSpec).
    */
  def hashEmbed(text: Column, ns: Seq[Int], dim: Int): Column =
    column(HashEmbed(expression(text), ns, dim))

  /** `(idCol, emb, norm, vec)` per document: `emb` the exact integer
    * vector, `norm` its L2 norm (rounded 6), `vec` the L2-normalized
    * doubles (rounded 6; an all-zero embedding yields a zero vector,
    * not NaN). One projection, zero shuffle.
    */
  def hashedEmbeddings(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text",
                       dim: Int = 64, ns: Seq[Int] = Seq(1, 2)): DataFrame = {
    require(dim >= 1, "Embeddings.hashedEmbeddings: dim must be >= 1")
    // the CSE aliasing rule: the embedding lands in its own projection,
    // derived columns reference it
    val normSq = aggregate(col("emb"), lit(0L),
      (acc, c) => acc + c.cast("long") * c.cast("long"))
    graft.core.Fanout.fanOut(docs)
      .select(col(idCol), hashEmbed(col(textCol), ns, dim).as("emb"))
      .select(col(idCol), col("emb"), sqrt(normSq.cast("double")).as("_n"))
      .select(col(idCol), col("emb"), round(col("_n"), 6).as("norm"),
        when(col("_n") === 0.0,
            array_repeat(lit(0.0), dim))
          .otherwise(transform(col("emb"),
            c => round(c.cast("double") / col("_n"), 6)))
          .as("vec"))
  }
}
