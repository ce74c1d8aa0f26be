package graft

import graft.tools.DumpPlans
import org.scalatest.funsuite.AnyFunSuite

/** PLANS.md is diffed across changes, so [[DumpPlans.mask]] must remove
  * exactly what varies between runs and keep the plan's shape. */
class DumpPlansSpec extends AnyFunSuite {
  test("mask hides expression and plan ids, hash codes and checkpoint call sites") {
    val plan =
      """(3) Scan ExistingRDD
        |Output [3]: [doc_id#408L, set#417, n#418L]
        |Arguments: [d1#377L, d2#379L], MapPartitionsRDD[44] at localCheckpoint at DedupOps.scala:577, ExistingRDD, UnknownPartitioning(0)
        |Functions [1]: [partial_topkagg(cos#460, c_id#454L, graft.functions.TopKAgg@4c255e8, true, 0)]
        |Join condition: ((v1#1047L < v2#1050L) AND (lsh_first_shared(k1#1048, k2#1051, true, 0, []) = tbl#1046))
        |Arguments: HashedRelationBroadcastMode(List(input[0, bigint, true]),false), [plan_id=742]
        |""".stripMargin
    assert(DumpPlans.mask(plan) ==
      """(3) Scan ExistingRDD
        |Output [3]: [doc_id#_L, set#_, n#_L]
        |Arguments: [d1#_L, d2#_L], MapPartitionsRDD[_] at localCheckpoint at DedupOps.scala:_, ExistingRDD, UnknownPartitioning(0)
        |Functions [1]: [partial_topkagg(cos#_, c_id#_L, graft.functions.TopKAgg@_, true, 0)]
        |Join condition: ((v1#_L < v2#_L) AND (lsh_first_shared(k1#_, k2#_, true, 0, []) = tbl#_))
        |Arguments: HashedRelationBroadcastMode(List(input[0, bigint, true]),false), [plan_id=_]
        |""".stripMargin)
  }
}
