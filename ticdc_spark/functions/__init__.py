from ticdc_spark.functions.render import (  # noqa: F401
    json_number,
    json_string_or_null,
    render_scalar,
)
