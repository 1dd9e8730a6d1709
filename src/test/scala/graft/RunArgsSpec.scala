package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Run

/** `Run`'s argument handling: a bad mode or flag value fails with the
  * usage line, before any Spark session is built. */
class RunArgsSpec extends AnyFunSuite {
  private def failure(args: String*): String =
    intercept[RuntimeException](Run.main(args.toArray)).getMessage

  test("bad mode, missing or malformed flag values fail with the usage line") {
    Seq(Seq(), Seq("bogus"), Seq("bench", "--passes"),
        Seq("bench", "--passes", "x"), Seq("serve", "--passes", "0"),
        Seq("stream", "--compact-every", "-1"),
        Seq("stream", "--takedown-every"), Seq("stream", "extra"))
      .foreach { args =>
        val msg = failure(args: _*)
        assert(msg.contains(Run.Usage), s"${args.mkString(" ")}: $msg")
      }
  }
}
