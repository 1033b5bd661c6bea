from comparador_de_registros_spark.plans.spec import (  # noqa: F401
    ComparePair,
    CompareSpec,
    FieldType,
    criteria_labels,
    infer_field_type,
)
from comparador_de_registros_spark.plans.configs import (  # noqa: F401
    DedupConfig,
    LshConfig,
    MinHashConfig,
    ShingleConfig,
    SubstringConfig,
)
