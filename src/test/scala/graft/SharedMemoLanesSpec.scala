package graft

import org.apache.spark.sql.DataFrame
import scala.util.hashing.MurmurHash3

import graft.core.SharedState

/** Shared state never changes an answer: for every memo declared in
  * [[SparkEntry.sharedMemos]], its owner and each consumer lane return the
  * same rows cold (each lane building the memo itself right after a reset)
  * and warm (reading the entry the declared warm-up built). A newly
  * declared memo is covered here with no new test code. */
class SharedMemoLanesSpec extends SparkSpec {

  private def sortedRowHash(df: DataFrame): Int =
    MurmurHash3.orderedHash(df.collect().map(_.toString).sorted)

  SparkEntry.sharedMemos.foreach { m =>
    test(s"${m.name}: owner ${m.owner} and its consumers return the same " +
      "rows cold and warm") {
      def run(lane: String): Int =
        sortedRowHash(SparkEntry.queries(lane)(spark, sf))
      try {
        val cold = m.lanes.map { lane =>
          SharedState.reset(spark, m.name)
          lane -> run(lane)
        }
        // warm as the bench does: the declared warm-up builds the entry
        SharedState.reset(spark, m.name)
        m.warm(spark, sf)
        val warm = m.lanes.map(lane => lane -> run(lane))
        assert(warm == cold)
      } finally SharedState.reset(spark, m.name)
    }
  }
}
