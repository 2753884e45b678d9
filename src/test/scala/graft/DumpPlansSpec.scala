package graft

import org.scalatest.funsuite.AnyFunSuite

/** `DumpPlans.normalize`: two dumps of one plan that differ only in
  * JVM-wide counters and lambda addresses normalize to the same text. */
class DumpPlansSpec extends AnyFunSuite {

  test("ids renumber per file in order of first appearance; lambdas fixed") {
    val a = "Project [doc_id#345L, count(1)#3108L AS n#3109L]\n" +
      "Arguments: hashpartitioning(doc_id#345L, 4), [plan_id=22790]\n" +
      "Condition : might_contain(Subquery subquery#11, [id=#14363], x)\n" +
      "MapPartitionsRDD[911] at localCheckpoint at DedupOps.scala:992, " +
      "graft.ops.DocOps$$$Lambda/0x00007f3c4c8a1d58@5b7a3e2f"
    val b = "Project [doc_id#12L, count(1)#7L AS n#99L]\n" +
      "Arguments: hashpartitioning(doc_id#12L, 4), [plan_id=4]\n" +
      "Condition : might_contain(Subquery subquery#11, [id=#14372], x)\n" +
      "MapPartitionsRDD[3] at localCheckpoint at DedupOps.scala:997, " +
      "graft.ops.DocOps$$$Lambda/0x00007f11d2e0a000@1c2d"
    val na = DumpPlans.normalize(a)
    assert(na == DumpPlans.normalize(b))
    assert(na.startsWith("Project [doc_id#1L, count(1)#2L AS n#3L]"), na)
    assert(na.contains("[plan_id=1]") && na.contains("[id=#1]") &&
      na.contains("MapPartitionsRDD[1] at localCheckpoint at DedupOps.scala,") &&
      na.endsWith("DocOps$$$Lambda<fn>"), na)
  }
}
