import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

package object graft {
  /** The JSON writer of every record the mains emit. A Scala map prints
    * its keys in iteration order (a `SeqMap` as inserted), and a
    * `java.math.BigDecimal` the digits it was built from (`2.50`).
    */
  private[graft] val jsonMapper: ObjectMapper =
    JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** `body`'s value and its wall-clock seconds: the one stopwatch of
    * Bench, Dev and ScaleStress.
    */
  private[graft] def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }
}
