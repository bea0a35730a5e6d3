from jema_js_spark.validation.engine import (
    compile_for,
    partition_verdicts,
    violation_rows,
    with_valid,
)
from jema_js_spark.validation.json_plane import (
    analyze_json_contract,
    json_violation_rows,
    with_valid_json,
)
from jema_js_spark.validation.kernel_udf import (
    kernel_error_count_udf,
    kernel_validate_pair_udf,
    kernel_validate_udf,
)

__all__ = ["compile_for", "with_valid", "violation_rows",
           "partition_verdicts",
           "kernel_validate_udf", "kernel_validate_pair_udf",
           "kernel_error_count_udf", "with_valid_json",
           "analyze_json_contract", "json_violation_rows"]
