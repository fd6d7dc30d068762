package graft

import graft.queries.StreamingQueries
import org.scalatest.funsuite.AnyFunSuite

/** The streaming gates' state partition rule, without a session. */
class StreamPartitionsSpec extends AnyFunSuite {

  test("state partitions: one wave on the session's task slots, capped at 8") {
    Seq(1 -> 1, 4 -> 4, 8 -> 8, 32 -> 8).foreach { case (slots, parts) =>
      assert(StreamingQueries.streamShufflePartitions(slots) == parts, s"slots=$slots")
    }
  }
}
