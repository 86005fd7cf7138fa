package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact set-similarity join via prefix filtering — the AllPairs/PPJoin
  * family (Bayardo et al., WWW'07 "Scaling Up All Pairs Similarity
  * Search"; Xiao et al., WWW'08 PPJoin). The EXACT counterpart to the
  * MinHash-LSH pipeline ([[Dedup.minhashCandidates]]): LSH trades recall
  * for speed (a pair can miss every band), prefix filtering is complete —
  * every pair with Jaccard ≥ τ is guaranteed to surface, so it is the
  * right tool when dedup must be provably exhaustive (e.g. benchmark
  * decontamination audits, legal takedown sweeps) rather than
  * best-effort.
  *
  * Principle: order every set's elements by a GLOBAL total order (document
  * frequency ascending, then element value — rarest first), and for a set
  * of size n keep only the first `n - ceil(τ·n) + 1` elements (the
  * "prefix"). Two sets with Jaccard ≥ τ have overlap ≥ ceil(τ·max(n1,n2))
  * ≥ each side's own ceil(τ·n), and the classic prefix lemma then
  * guarantees their prefixes share ≥1 element — so the candidate join on
  * prefix elements misses nothing. Rare-first ordering makes the join
  * selective: the hot stop-shingles every document shares land in the
  * SUFFIX, never in a join key, which is what keeps the self-join from
  * going quadratic (the same df-skew argument as the MOSS df-cap in
  * [[Dedup.containmentPairs]], but with zero recall loss).
  *
  * Scale shape at 100 TB: two element-keyed shuffles over the exploded
  * corpus (df counting, df attach + per-doc regroup), one prefix-keyed
  * self-join whose per-key fan-out is bounded by the rarity of prefix
  * elements, a length-filter cut, then the candidate-bounded exact verify
  * of [[Dedup.jaccardForCandidatesHashes]]. No window functions, no
  * broadcast of corpus-sized relations, partial aggregation live on every
  * groupBy. The df table is corpus-vocabulary-sized and stays distributed
  * (it is joined, never collected).
  */
object PrefixJoin {

  /** All pairs (id1 < id2) with exact Jaccard(harr sets) ≥ tau.
    *
    * @param harrs per-doc DISTINCT element arrays `(idCol, harr:
    *              array&lt;long&gt;)` — e.g. [[Dedup.shingleHashArrays]].
    * @return (id1, id2, jaccard): a lazy `jaccard >= tau` filter over the
    *         eager, pair-sized verify checkpoint of
    *         [[Dedup.jaccardForCandidatesHashes]] — reading it re-runs
    *         only the filter.
    */
  def allPairsJaccard(harrs: DataFrame, idCol: String,
                      tau: Double): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1], got $tau")
    Materialize.withMaterialized(harrs) { h =>
      val ex = h.select(col(idCol), explode(col("harr")).as("el"))
      // global document frequency per element — the join key statistic the
      // ordering is built from; distributed, never collected
      val dfTab = ex.groupBy(col("el")).agg(count(lit(1)).as("df"))
      // per-doc elements in global (df asc, el asc) order; the sort_array
      // on (df, el) structs makes the order total and engine-independent
      val ordered = ex.join(dfTab, Seq("el"))
        .groupBy(col(idCol))
        .agg(sort_array(collect_list(struct(col("df"), col("el")))).as("oe"))
        .select(col(idCol), expr("transform(oe, x -> x.el)").as("oels"))
      // prefix of length n - ceil(tau*n) + 1 (rarest elements)
      val pref = ordered.select(col(idCol),
        size(col("oels")).as("n"),
        expr(s"slice(oels, 1, size(oels) - CAST(ceil($tau * size(oels)) AS INT) + 1)")
          .as("pref"))
      // prefix-element self-join (rule 5: derived relation feeding both
      // sides is scoped-materialized) + symmetric length filter
      Materialize.withMaterialized(pref) { p =>
        val pe = p.select(col(idCol), col("n"), explode(col("pref")).as("el"))
        val cand = pe.select(col(idCol).as("id1"), col("n").as("n1"), col("el"))
          .join(pe.select(col(idCol).as("id2"), col("n").as("n2"), col("el")),
            Seq("el"))
          .filter(col("id1") < col("id2"))
          .filter(col("n2") >= ceil(lit(tau) * col("n1")) &&
            col("n1") >= ceil(lit(tau) * col("n2")))
          .select(col("id1"), col("id2"))
          .distinct()
        Dedup.jaccardForCandidatesHashes(cand, h, idCol)
          .filter(col("jaccard") >= tau)
      }
    }
  }
}
