package graftbench

import java.time.LocalDate
import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Seeded order rows for the lake workload, which keeps its own model of
  * the table, and the value lists SQL parameters are drawn from. The
  * parquet inputs of the other workloads come from `perfbench/gen.py`,
  * whose value lists these must equal.
  */
object Gen {
  private def rng(seed: Long, salt: Int) = new SplittableRandom(seed * 1000003L + salt)
  private def money(x: Double): Double = math.round(x * 100) / 100.0
  private def pick[A](r: SplittableRandom, xs: IndexedSeq[A]): A = xs(r.nextInt(xs.size))

  val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val colors = Vector("small", "red", "blue", "hot", "green", "dark", "cold", "big")
  val ptypes = Vector("ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD")
  private val day0 = LocalDate.of(1995, 1, 1)

  private def f(n: String, t: DataType) = StructField(n, t, nullable = false)

  /** `n` order rows with keys from `firstKey`, in [[orderSchema]] field order. */
  def orderRows(seed: Long, n: Int, firstKey: Long = 0L): IndexedSeq[Row] = {
    val r = rng(seed, 7)
    val nc = math.max(50, n / 10)
    (0 until n).map { i =>
      Row(firstKey + i, r.nextInt(nc).toLong, pick(r, Vector("F", "O", "P")),
        money(1000 + r.nextDouble() * 499000), day0.plusDays(r.nextInt(2400)).atStartOfDay(),
        pick(r, priorities))
    }
  }
  val orderSchema: StructType = StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
    f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
    f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType)))
}
