from otlp_wire_spark.plans.asserts import (  # noqa: F401
    executed_plan,
    optimized_plan,
    count_in_plan,
    assert_broadcast_join,
    assert_no_python,
    assert_pushed_filter,
)
