package graft

import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

/** Pins the tool mains' shared formatting: numbers stay JSON-safe under
  * any JVM default locale, and the ladder exponent is log(ratio)/log(N).
  */
class HarnessSpec extends AnyFunSuite {

  test("num prints a dot decimal under a comma-decimal default locale") {
    val saved = Locale.getDefault(Locale.Category.FORMAT)
    try {
      Locale.setDefault(Locale.Category.FORMAT, Locale.GERMANY)
      assert(f"${1.5}%.2f" == "1,50", "the default locale no longer uses commas")
      assert(Harness.num(1.5) == "1.50")
    } finally Locale.setDefault(Locale.Category.FORMAT, saved)
  }

  test("exponent is log(ratio)/log(N): 2x the time at 10x the data") {
    assert(Harness.exponent(2.0, 10.0) == math.log(2) / math.log(10))
  }

  test("exponentLines gives one line per consecutive pair of points") {
    assert(Harness.exponentLines(Seq((10, 1.0, 1.0)), "a", "b").isEmpty)
    assert(Harness.exponentLines(Seq((10, 1.0, 1.0), (100, 10.0, 100.0), (1000, 100.0, 100.0)), "a", "b") ==
      Seq("10x -> 100x (factor 10.00): a exponent 1.00, b exponent 2.00",
        "100x -> 1000x (factor 10.00): a exponent 1.00, b exponent 0.00"))
  }
}
