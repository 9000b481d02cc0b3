package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON format for every record graft prints: Bench's full and
  * compact lines, Verify's `oracle_sql.json` and the scale campaign's
  * facet lines. A record is a value of plain Scala types: maps print as
  * objects (keys in the map's iteration order, so build them as
  * `VectorMap`s where the order is part of the record), sequences and
  * tuples as arrays, strings escaped by the JSON rules.
  */
object Records {
  private val Json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** `record` as one line of JSON. */
  def write(record: Any): String = Json.writeValueAsString(record)

  /** `d` printed at `places` decimals: half-up on its shortest decimal
    * form, which is what `%.Nf` prints, but never in the default locale's
    * notation (a comma decimal separator is not JSON).
    */
  def round(d: Double, places: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(d).setScale(places, java.math.RoundingMode.HALF_UP)
}
