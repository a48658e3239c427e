package graft

import org.scalatest.funsuite.AnyFunSuite

/** The compact stdout line keeps its extras in a fixed priority order
  * (trimming drops from the end). The expected sequence below was
  * produced once by the hand-written ordering the declarative
  * [[Bench.orderExtras]] replaced, over the extras keys of
  * `bench_reports_r19_final/bench_report.json` (without the retired
  * `q72_rewrite_*` pair) plus one key no sweep emits. */
class BenchOrderSpec extends AnyFunSuite {
  /** Emission order, as in the report. */
  private val emitted = Seq(
    "ow_merge_bins", "ow_hot_files", "ow_total_files", "mm_cow_merge_20",
    "mm_cow_read_20", "mm_mor_merge_20", "mm_mor_read_20",
    "mm_cow_merge_200", "mm_cow_read_200", "mm_mor_merge_200",
    "mm_mor_read_200", "mm_cow_merge_2k", "mm_cow_read_2k",
    "mm_mor_merge_2k", "mm_mor_read_2k", "mm_cow_merge_20k",
    "mm_cow_read_20k", "mm_mor_merge_20k", "mm_mor_read_20k",
    "fc_manifest_100", "fc_plan_100", "fc_read_100", "fc_manifest_1000",
    "fc_plan_1000", "fc_read_1000", "fc_commit_1000", "fc_stream_1000",
    "fc_manifest_10000", "fc_plan_10000", "fc_read_10000",
    "fc_manifest_100000", "fc_plan_100000", "fc_read_100000",
    "fc_manifest_200000", "fc_plan_200000", "fc_read_200000",
    "fc_commit_200000", "fc_stream_200000", "dm_cow_del_20k",
    "dm_cow_read_20k", "dm_mor_del_20k", "dm_mor_read_20k", "dm_cow_del_20",
    "dm_cow_read_20", "dm_mor_del_20", "dm_mor_read_20", "dm_cowp_del_20k",
    "dm_cowp_read_20k", "dm_dv_del_20k", "dm_dv_read_20k", "dm_cowmrg_sql",
    "dm_cowmrg_read", "dm_dvmrg_sql", "dm_dvmrg_read", "ir_query_pre",
    "ir_merge_1", "ir_merge_2", "ir_merge_3", "ir_merge_4", "ir_merge_5",
    "ir_merge_6", "ir_merge_7", "ir_merge_8", "ir_merge_9", "ir_merge_10",
    "ir_query_mid", "ir_compact", "ir_query_post", "irp_query_0",
    "irp_merge_1", "irp_query_1", "irp_merge_2", "irp_query_2",
    "irp_merge_3", "irp_query_3", "irp_merge_4", "irp_query_4",
    "irp_merge_5", "irp_query_5", "irp_merge_6", "irp_query_6",
    "irp_merge_7", "irp_query_7", "irp_merge_8", "irp_query_8",
    "irp_merge_9", "irp_query_9", "irp_merge_10", "irp_query_10",
    "irp_compact", "irp_query_post", "rpf_iso_med", "rpf_iso_1",
    "rpf_iso_2", "rpf_iso_3", "inc_probe_1", "inc_extend_1", "inc_probe_2",
    "inc_extend_2", "inc_probe_3", "inc_extend_3", "inc_probe_4",
    "inc_extend_4", "inc_probe_5", "inc_extend_5", "skip_ratio_stats",
    "skip_ratio_zorder_cust", "skip_ratio_zorder_key", "new_metric_1")

  private val expected = Seq(
    "rpf_iso_med", "rpf_iso_1", "rpf_iso_2", "rpf_iso_3", "ow_merge_bins",
    "ow_hot_files", "ow_total_files", "dm_cowmrg_sql", "dm_cowmrg_read",
    "dm_dvmrg_sql", "dm_dvmrg_read", "inc_probe_1", "inc_extend_1",
    "inc_probe_2", "inc_extend_2", "inc_probe_3", "inc_extend_3",
    "inc_probe_4", "inc_extend_4", "inc_probe_5", "inc_extend_5",
    "fc_manifest_200000", "fc_plan_200000", "fc_read_200000",
    "fc_commit_200000", "fc_stream_200000", "fc_manifest_1000",
    "fc_plan_1000", "fc_read_1000", "fc_commit_1000", "fc_stream_1000",
    "fc_manifest_100000", "fc_plan_100000", "fc_read_100000",
    "fc_manifest_10000", "fc_plan_10000", "fc_read_10000",
    "fc_manifest_100", "fc_plan_100", "fc_read_100", "skip_ratio_stats",
    "skip_ratio_zorder_cust", "skip_ratio_zorder_key", "dm_cow_del_20k",
    "dm_cow_read_20k", "dm_mor_del_20k", "dm_mor_read_20k", "dm_cow_del_20",
    "dm_cow_read_20", "dm_mor_del_20", "dm_mor_read_20", "dm_cowp_del_20k",
    "dm_cowp_read_20k", "dm_dv_del_20k", "dm_dv_read_20k", "ir_query_pre",
    "ir_query_mid", "ir_query_post", "ir_compact", "ir_merge_1",
    "ir_merge_10", "irp_query_0", "irp_query_post", "irp_compact",
    "irp_merge_1", "irp_merge_10", "ir_merge_2", "ir_merge_3", "ir_merge_4",
    "ir_merge_5", "ir_merge_6", "ir_merge_7", "ir_merge_8", "ir_merge_9",
    "irp_query_1", "irp_merge_2", "irp_query_2", "irp_merge_3",
    "irp_query_3", "irp_merge_4", "irp_query_4", "irp_merge_5",
    "irp_query_5", "irp_merge_6", "irp_query_6", "irp_merge_7",
    "irp_query_7", "irp_merge_8", "irp_query_8", "irp_merge_9",
    "irp_query_9", "irp_query_10", "mm_cow_merge_20k", "mm_cow_read_20k",
    "mm_mor_merge_20k", "mm_mor_read_20k", "mm_cow_merge_2k",
    "mm_cow_read_2k", "mm_mor_merge_2k", "mm_mor_read_2k",
    "mm_cow_merge_200", "mm_cow_read_200", "mm_mor_merge_200",
    "mm_mor_read_200", "mm_cow_merge_20", "mm_cow_read_20",
    "mm_mor_merge_20", "mm_mor_read_20", "new_metric_1")

  test("orderExtras reproduces the compact-line order key for key") {
    val got = Bench.orderExtras(emitted.map(_ -> 0.0)).map(_._1)
    assert(got == expected)
  }
}
