from .audit import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filters,
    assert_read_schema_pruned,
    assert_whole_stage_codegen,
    formatted_plan,
    physical_plan,
    plan_summary,
)

__all__ = [
    "assert_broadcast_join",
    "assert_no_cartesian",
    "assert_pushed_filters",
    "assert_read_schema_pruned",
    "assert_whole_stage_codegen",
    "formatted_plan",
    "physical_plan",
    "plan_summary",
]
