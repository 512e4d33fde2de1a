package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** Round-24 batch: the ingestion loop (q202) and image near-dup
  * detection (q203) — driver brute-force parity, planted recovery,
  * admission semantics, and codec-equivalence of the dHash signature.
  */
class Round24OpsSpec extends SparkSpec {

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("dhashBands9x8: known raster produces the hand-computed bands " +
    "and rejects wrong sizes") {
    // gradient raster: pixel i has (r,g,b) = (i, i, i) → gray = i,
    // strictly increasing → every comparison g[x] > g[x+1] is FALSE
    val inc = Array.tabulate(216)(i => (i / 3).toByte)
    assert(Multimodal.dhashBands9x8(inc).toSeq === Seq(0, 0, 0, 0))
    // reversed gradient → every comparison TRUE → all 16 bits set
    val dec = Array.tabulate(216)(i => (71 - i / 3).toByte)
    assert(Multimodal.dhashBands9x8(dec).toSeq ===
      Seq(0xffff, 0xffff, 0xffff, 0xffff))
    intercept[IllegalArgumentException] {
      Multimodal.dhashBands9x8(new Array[Byte](215))
    }
  }

  test("dhash signature is IDENTICAL across BMP / PPM / PNG encodings " +
    "of the same raster (lossless codec contract)") {
    val rng = new scala.util.Random(7)
    for (_ <- 0 until 5) {
      val raster = Array.fill(216)((rng.nextInt(256) - 128).toByte)
      val viaBmp = Multimodal.dhashBands9x8(
        Multimodal.decode(Multimodal.encodeBmp24(9, 8, raster)).pixels)
      val viaPpm = Multimodal.dhashBands9x8(
        Multimodal.decode(Multimodal.encodePpm(9, 8, raster)).pixels)
      val viaPng = Multimodal.dhashBands9x8(
        Multimodal.decode(Multimodal.encodePng(9, 8, raster)).pixels)
      val direct = Multimodal.dhashBands9x8(raster)
      assert(viaBmp.toSeq === direct.toSeq)
      assert(viaPpm.toSeq === direct.toSeq)
      assert(viaPng.toSeq === direct.toSeq)
    }
  }

  test("q203 banded pairs == driver O(n²) brute force over the same " +
    "signatures, and every planted near-dup pair is recovered") {
    val sigs = CurationQueries.imageSigs(spark, sf).collect()
      .map(r => (r.getLong(0), Seq(r.getInt(1), r.getInt(2),
        r.getInt(3), r.getInt(4))))
      .sortBy(_._1)
    // brute: all pairs with hamming <= 3 (the banded radius)
    val brute = (for {
      i <- sigs.indices.iterator
      j <- (i + 1) until sigs.length
      h = sigs(i)._2.zip(sigs(j)._2)
        .map { case (a, b) => Integer.bitCount(a ^ b) }.sum
      if h <= 3
    } yield (sigs(i)._1, sigs(j)._1, h)).toSet
    val got = CurationQueries.q203_image_neardup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === brute,
      s"sym_diff=${(got diff brute).size + (brute diff got).size}")
    // planted recovery: (id-1, id) for id % 17 == 3 with id-1 present
    val ids = sigs.map(_._1).toSet
    val planted = ids.filter(id => id % 17 == 3 && ids(id - 1))
      .map(id => (id - 1, id))
    assert(planted.nonEmpty)
    val gotPairs = got.map(p => (p._1, p._2))
    assert(planted.forall(gotPairs.contains),
      s"missed=${planted.count(!gotPairs.contains(_))} of ${planted.size}")
  }

  test("q202 admission: within-batch duplicates keep the min id, " +
    "resident content is rejected, novel content admitted") {
    val resident = Seq((1L, "alpha beta"), (2L, "gamma")).toDF("id", "text")
    val arrivals = Seq(
      (10L, "alpha beta"),  // resident content → rejected
      (11L, "delta"),       // novel → admitted
      (12L, "epsilon"),     // novel, duplicated in-batch → min id wins
      (13L, "epsilon"),
      (14L, "delta")        // in-batch dup of 11 → rejected
    ).toDF("id", "text")
    val got = StoreQueries.admit(resident, arrivals).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((11L, "delta"), (12L, "epsilon")))
  }

  test("q202 served-from-store ranking == inline full-rebuild ranking " +
    "row-for-row (the ingestion loop hard gate, at sf0.001)") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    val served = rows(StoreQueries.q202_ingest_loop(spark, sf))
    val rebuilt = rows(StoreQueries.q202_rebuild(spark, sf))
    assert(served.nonEmpty)
    assert(served === rebuilt)
  }

  test("q203 planted pairs have hamming <= 3 by construction (inside " +
    "the exact banding radius) and appear with nonzero hamming for " +
    "at least one pair (the perturbation does perturb)") {
    val got = CurationQueries.q203_image_neardup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val planted = got.filter(p => p._2 % 17 == 3 && p._1 == p._2 - 1)
    assert(planted.nonEmpty)
    assert(planted.forall(_._3 <= 3))
    assert(planted.exists(_._3 > 0))
  }
}
