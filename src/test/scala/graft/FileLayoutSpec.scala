package graft

import graft.operators.FileLayout

/** Output file sizing (operators/FileLayout): the partition-count math. */
class FileLayoutSpec extends SparkSpec {

  test("sizedPartitions math: ceil(rows·rate/target), floor 1") {
    assert(FileLayout.sizedPartitions(1000, 100.0, 100000) == 1)
    assert(FileLayout.sizedPartitions(1000, 100.0, 25000) == 4)
    assert(FileLayout.sizedPartitions(1001, 100.0, 100000) == 2) // ceil
    assert(FileLayout.sizedPartitions(0, 100.0, 100000) == 1)
    intercept[IllegalArgumentException](FileLayout.sizedPartitions(1, -1.0, 1))
  }
}
