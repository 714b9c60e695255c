from gopensearch_spark.dsl.model import Dsl, parse_dsl  # noqa: F401
from gopensearch_spark.dsl.compiler import compile_query  # noqa: F401
from gopensearch_spark.dsl.engine import Engine  # noqa: F401
