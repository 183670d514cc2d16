"""psweep_spark — a PySpark-native parameter-study / experiment-database
engine with the capabilities of elcorto/psweep (reference read-only at
/root/reference), re-architected Spark-first:

* grid DSL (plist/pgrid/stargrid/...) — eager list API for reference
  parity + lazy DataFrame builders for 10^9-row grids
* canonical sha256 pset hash as a Catalyst expression (no UDF hot path)
* ``run()``: grid → skip-dups probe → id stamping → func, serially on
  the driver for an eager grid without ``poolsize``, else in a
  mapInPandas stage of ``poolsize`` tasks → Parquet append with
  union-of-keys schema evolution
* query surface (+ full Spark SQL passthrough) and LLM-data-pipeline
  operators (dedup, similarity search, text analysis) under
  ``psweep_spark.operators``
"""

from .database import Database
from .grid import (
    filter_params_dup_hash,
    filter_params_unique,
    flatten,
    flatten_dict,
    intspace,
    itr2params,
    logspace,
    merge_dicts,
    pgrid,
    pgrid_df,
    plist,
    plist_df,
    stargrid,
    stargrid_df,
    zip_df,
)
from .hashing import (
    RESERVED_COLS,
    canon_pset,
    canon_value,
    col_kind,
    filter_cols,
    hash_expr,
    hash_sql,
    pset_hash,
)
from .query import (
    check_calc_dir,
    df_extract_dicts,
    df_extract_params,
    df_extract_pset,
    df_extract_row,
    df_filter_conds,
    df_print,
    df_to_json,
    df_to_table,
    failed_psets,
    latest_per_pset,
)
from .operators.asof import asof_join
from .operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_dedup,
    minhash_signatures,
    simhash,
)
from .operators.rangejoin import range_join_bucketed
from .operators.similarity import brute_force_topk, ivf_topk, lsh_topk
from .operators.skew import salted_join
from .runner import (
    git_clean,
    git_enter,
    git_exit,
    infer_schema,
    prepare_params_df,
    run,
    uuid5_expr,
)
from .session import get_spark
from .sources import (
    file_read,
    file_write,
    json_read,
    json_write,
    pickle_read,
    pickle_write,
    read_bucketed,
    read_table,
    write_bucketed,
    write_table,
)
from .templates import (
    FileTemplate,
    Machine,
    gather_calc_templates,
    gather_machines,
    prep_batch,
)
from .grid import is_seq
from .hashing import PsweepHashError
from .util import (
    capture_logs_wrapper,
    df_ensure_dtypes,
    df_read,
    df_update_pset_cols,
    df_update_pset_hash,
    df_write,
    fullpath,
    func_wrapper,
    get_many_uuids,
    get_uuid,
    in_git_repo,
    itr,
    makedirs,
    system,
)

__version__ = "0.1.0"
