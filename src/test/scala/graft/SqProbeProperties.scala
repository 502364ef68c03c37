package graft

import graft.functions.vecDot
import graft.ops.{Embeddings, Pq, Sq}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{broadcast, col, zip_with}
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** ScalaCheck property pinning the driver-built probe side of the
  * routed SQ8 serves ([[Sq.probeRows]]) to the distributed form it
  * replaced: [[Pq.probeCellsRelation]] (the fused ProbeCells ranking)
  * joined to the cells' mean grids, residual by `zip_with`, norm by
  * `vec_dot`. Each case draws an id-sorted quantizer of 1-12 cells,
  * some of them copies of an earlier cell's (s, n) under a new id so
  * that distinct cells tie exactly, a batch of 0-8 queries (a null qv
  * and a qv holding a null among them) and nprobe from 1 to the cell
  * count, and compares (q_id, cell, q_v, q_n) row for row. Each case
  * runs Spark jobs, so the case count is small. */
object SqProbeProperties extends Properties("Sq.probeRows") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters = p.withMinSuccessfulTests(30)

  private val Dim = Embeddings.Dim
  private val Bound = 1000L

  private def vecOf(bound: Long): Gen[Seq[Long]] = Gen.listOfN(Dim, Gen.choose(-bound, bound))

  private val centsGen: Gen[Seq[Embeddings.Centroid]] = for {
    nFresh <- Gen.choose(1, 8)
    fresh <- Gen.listOfN(nFresh, for {
      n <- Gen.choose(1L, 50L)
      s <- vecOf(Bound * n)
    } yield (s, n))
    copies <- Gen.listOf(Gen.choose(0, nFresh - 1)).map(_.take(4))
    gaps <- Gen.listOfN(nFresh + copies.size, Gen.choose(1L, 5L))
    shuffleSeed <- Gen.long
  } yield {
    val sn = fresh ++ copies.map(fresh)
    val ids = gaps.scanLeft(0L)(_ + _).tail
    // copies land at random ids, so a tie is not always broken toward
    // the original
    new scala.util.Random(shuffleSeed).shuffle(sn.indices.toList).zip(ids)
      .map { case (i, j) => Embeddings.Centroid(j, sn(i)._1, sn(i)._2) }.sortBy(_.j)
  }

  private val qvGen: Gen[Option[Seq[java.lang.Long]]] = Gen.frequency(
    8 -> vecOf(Bound).map(v => Some(v.map(Long.box))),
    1 -> Gen.const(None),
    1 -> vecOf(Bound).map(v => Some(v.map(Long.box).updated(Dim / 2, null))))

  private val caseGen = for {
    cents <- centsGen
    queries <- Gen.choose(0, 8).flatMap(Gen.listOfN(_, qvGen))
    nprobe <- Gen.choose(1, cents.size)
  } yield (cents, queries, nprobe)

  private val QuerySchema = StructType(Seq(
    StructField("q_id", LongType), StructField("qv", ArrayType(LongType))))

  /** (q_id, cell, q_v, q_n), sorted by (q_id, cell). */
  private def keyed(rows: Seq[Row]): List[(Long, Long, List[java.lang.Long], java.lang.Long)] =
    rows.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("cell"),
        r.getAs[Seq[java.lang.Long]]("q_v").toList, r.getAs[java.lang.Long]("q_n")))
      .sortBy(r => (r._1, r._2)).toList

  property("driver probe side ≡ probeCellsRelation ⋈ grid → zip_with/vec_dot") =
    forAll(caseGen) { case (cents, queries, nprobe) =>
      val spark = SparkSpec.spark
      val rows = queries.zipWithIndex.map { case (qv, i) => Row(100L + i, qv.orNull) }
      val qdf = spark.createDataFrame(java.util.Arrays.asList(rows: _*), QuerySchema)
      val want = Pq.probeCellsRelation(qdf, cents, nprobe)
        .join(broadcast(Pq.gridDfOf(spark, cents)), "cell")
        .select(col("q_id"), col("cell"),
          zip_with(col("qv"), col("grid"), (a, b) => a - b).as("q_v"))
        .withColumn("q_n", vecDot(col("q_v"), col("q_v")))
        .collect().toSeq
      val got = Sq.probeRows(qdf, cents, nprobe).toSeq
      keyed(got) == keyed(want) &&
        want.map(_.getAs[Long]("q_id")).distinct.size == queries.count(_.exists(!_.contains(null)))
    }
}
