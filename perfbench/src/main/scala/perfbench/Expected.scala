package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import java.io.File
import scala.jdk.CollectionConverters._

/** Row count plus an order-insensitive content hash of a query result:
  * the XOR and the bounded sum of per-row xxhash64 values over the
  * columns in name order. The sum catches row pairs that XOR cancels.
  */
final case class Digest(rows: Long, xor: Long, sum: Long)

object Digest {
  /** Runs `df` to the noop sink and observes its digest in that same
    * execution, so checking an output costs no second run of the query.
    */
  def observeNoop(df: DataFrame): Digest = {
    val h = xxhash64(df.columns.sorted.toIndexedSeq
      .map(c => df.col("`" + c.replace("`", "``") + "`")): _*)
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"),
        coalesce(bit_xor(h), lit(0L)).as("xor"),
        coalesce(sum(pmod(h, lit(2147483647L))), lit(0L)).as("sum"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Digest(m("rows").asInstanceOf[Long], m("xor").asInstanceOf[Long],
      m("sum").asInstanceOf[Long])
  }
}

/** The committed expected outputs: a digest per benchmark query, and
  * the okcupid_tree accuracy pinned per seed at a given core count.
  */
final case class Expected(
    digests: Map[String, Digest],
    accuracyCores: Int,
    accuracy: Map[Long, Double])

object Expected {
  def load(file: File): Expected = {
    val root = Main.json.readTree(file)
    def fields(n: JsonNode) = n.fields().asScala.map(e => e.getKey -> e.getValue)
    val digests = fields(root.get("queries")).map { case (k, v) =>
      k -> Digest(v.get("rows").asLong, v.get("xor").asLong, v.get("sum").asLong)
    }.toMap
    val tree = root.get("okcupid_tree")
    val acc = fields(tree.get("accuracy"))
      .map { case (k, v) => k.toLong -> v.asDouble }.toMap
    Expected(digests, tree.get("cores").asInt, acc)
  }
}
