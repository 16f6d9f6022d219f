package graft

import org.scalatest.funsuite.AnyFunSuite

class StreamProbeSpec extends AnyFunSuite {
  test("phases and jobs without a query name print usage instead of throwing") {
    Seq("phases", "jobs").foreach { mode =>
      val err = new java.io.ByteArrayOutputStream()
      Console.withErr(err)(StreamProbe.main(Array(mode)))
      assert(err.toString.contains(s"usage: graft.StreamProbe $mode <query>"), err.toString)
    }
  }
}
