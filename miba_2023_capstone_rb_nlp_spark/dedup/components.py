"""Connected components over the near-dup pair graph: turns pairwise
dedup output (exact / Jaccard / MinHash / SimHash candidates) into
duplicate GROUPS — the form a training-data pipeline actually
consumes (keep one canonical doc per component).

One kernel, alternating large-star/small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14): O(log² n)
rounds regardless of graph diameter, so adversarial chain graphs
converge as fast as dense near-dup clusters (a 1000-node path in ≤13
rounds, where label propagation needs one round per hop).

Per-round DataFrames are localCheckpoint'ed so lineage stays O(1)
deep (no exponential re-execution under lazy eval); convergence is
detected by an exact edge-set signature. Checkpoints are LAZY
(eager=False): every round is immediately followed by the signature
collect, so that action materializes the checkpoint inside its own
job — an eager checkpoint would run the identical computation as a
separate extra job per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str,
    src: str,
    dst: str,
    max_iter: int = 25,
) -> DataFrame:
    """Large-star/small-star connected components → [id_col,
    component] with component = min reachable vertex id (isolated
    vertices: their own id). Raises if not converged within
    ``max_iter`` rounds.

    Each round maps the edge set E (oriented u < v) through large-star
    then small-star:

      large-star(u): m = min(N(u) ∪ {u}); emit (m, v) for v ∈ N(u),
                     v > u — strictly-larger neighbors re-attach to
                     the local minimum;
      small-star(a): over edges directed larger→smaller, S = smaller
                     neighbors of a, m = min(S); emit (m, a) and
                     (m, b) for b ∈ S∖{m}.

    Both minimums are window mins over the round's rows, so neither
    needs a groupBy + self-join, and duplicate rows (from the input or
    from large-star) change neither minimum: the only ``distinct`` is
    the one ending the round. The fixpoint is one star per component
    centered at its minimum. Both halves preserve the u < v
    orientation, so convergence is detected by an exact set signature
    (count + sum of xxhash64) on the checkpointed edge set — one tiny
    job per round. Duplicate input edges cost at most one extra round.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .localCheckpoint(eager=False)
    )

    def signature(df: DataFrame) -> tuple:
        [row] = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: a long sum of 64-bit hashes overflows ANSI
            F.sum(F.xxhash64("u", "v").cast("decimal(20,0)")).alias("h"),
        ).collect()
        return (row["n"], row["h"])

    sig = signature(e)
    for _ in range(max_iter):
        sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        large = (
            sym.withColumn("mn", F.min("v").over(Window.partitionBy("u")))
            .where(F.col("v") > F.col("u"))
            .select(F.least("mn", "u").alias("u"), F.col("v"))
        )
        # small-star over larger→smaller orientation (v is the larger
        # endpoint, its smaller neighbors are the u's): the center edge
        # (mn, v) and the member edge (mn, u), minus the self-loop
        # (mn, mn)
        e = (
            large.withColumn("mn", F.min("u").over(Window.partitionBy("v")))
            .select(
                F.col("mn").alias("u"), F.explode(F.array("v", "u")).alias("v")
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        new_sig = signature(e)
        if new_sig == sig:
            comp = e.select(F.col("v").alias("_id"), F.col("u").alias("_lbl"))
            return (
                vertices.select(F.col(id_col))
                .join(comp, vertices[id_col] == comp["_id"], "left")
                .select(
                    F.col(id_col),
                    F.coalesce("_lbl", F.col(id_col)).alias("component"),
                )
            )
        sig = new_sig
    raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
