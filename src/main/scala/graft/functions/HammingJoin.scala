package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Banded hamming self-join over a 64-bit signature column — the one
  * shape shared by every perceptual-signature family in the engine:
  * SimHash text near-dup (kukur has no analog; Charikar 2002), pHash
  * image near-dup, and (at set-overlap grain rather than hamming)
  * the audio frame-fingerprint index.
  *
  * Splitting the 64 bits into `bands` equal slices and bucket-joining
  * on (band, slice value) is EXACT by pigeonhole for
  * `maxHamming <= bands - 1`: a pair within distance d differs in at
  * most d bands, so at least one band is intact and the pair lands in
  * that band's bucket. The survivor filter recomputes the true
  * distance with `bit_count`, so banding only ever *finds* pairs, the
  * filter decides. Wider bands → fewer, more selective buckets;
  * narrower bands → higher exact-distance budget. Callers pick the
  * trade: SimHash uses 4×16 (budget 3), pHash 8×8 (budget 7).
  *
  * Scale shape: one explode (docs × bands rows), one shuffle on the
  * bucket key, join fanout bounded per bucket. `maxDf > 0` drops
  * buckets shared by more than `maxDf` signatures BEFORE the join —
  * degenerate inputs (near-blank images, empty docs) pile into one
  * bucket per band and make the join quadratic on a crawl-scale
  * corpus; the cap bounds per-key fanout at a bounded recall cost (a
  * pair is missed only if EVERY band it shares is hot) — the same
  * trade `audioFpPairs` and `winnowPairs` make. The banded frame is
  * consumed by both join sides (and the df cap), so it is pinned
  * ([[Materialize]]).
  *
  * Output: `(id_a, id_b, hamming)` with `id_a < id_b`, one row per
  * pair within `maxHamming`.
  */
object HammingJoin {

  /** SQL expression producing the array of `bands` band values for a
    * 64-bit signature column — the one definition of the banding
    * shared by the batch self-join below and the streaming perceptual
    * dedup (`EventStream.perceptualDedupStream`), so batch and stream
    * bucket identically.
    */
  private[graft] def bandArrayExpr(sigCol: String, bands: Int): String = {
    require(bands > 0 && 64 % bands == 0, s"bands must divide 64, got $bands")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    s"transform(sequence(0, ${bands - 1}), b -> ($sigCol >> (b * $width)) & $mask)"
  }

  def pairs(
      sigs: DataFrame,
      idCol: String,
      sigCol: String,
      bands: Int,
      maxHamming: Int,
      maxDf: Long = 0L,
  ): DataFrame = {
    require(bands > 0 && 64 % bands == 0, s"bands must divide 64, got $bands")
    require(
      maxHamming >= 0 && maxHamming <= bands - 1,
      s"$bands bands are exact only for maxHamming <= ${bands - 1}, got $maxHamming",
    )
    val banded = sigs
      .where(col(sigCol).isNotNull)
      .select(col(idCol).as("__id"), col(sigCol).as("__sig"))
      .select(
        col("__id"),
        col("__sig"),
        posexplode(expr(bandArrayExpr("__sig", bands))).as(Seq("band", "band_val")),
      )
      .transform(Materialize.pin)
    val kept =
      if (maxDf <= 0L) banded
      else
        banded
          .join(
            banded
              .groupBy(col("band"), col("band_val"))
              .agg(count(lit(1)).as("__df"))
              .where(col("__df") <= maxDf),
            Seq("band", "band_val"),
          )
          .drop("__df")
    kept
      .select(col("__id").as("id_a"), col("__sig").as("sig_a"), col("band"), col("band_val"))
      .join(
        kept.select(col("__id").as("id_b"), col("__sig").as("sig_b"), col("band"), col("band_val")),
        Seq("band", "band_val"),
      )
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), expr("bit_count(sig_a ^ sig_b)").cast("int").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }
}
