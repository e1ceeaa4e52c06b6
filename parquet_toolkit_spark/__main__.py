"""Deployable CLI: the toolkit's operational surface as one submit-able
module.

The reference ships its operations as Java builder code driven from
main() harnesses (kz/hustle/test/Main.java:11-87 and siblings, SURVEY
§5.1); this is the same surface as a single argparse entry point that
works identically as

    python -m parquet_toolkit_spark <verb> ...          # local
    spark-submit --py-files dist/parquet_toolkit_spark.zip \
        cli_launcher.py <verb> ...                      # cluster

(the north rule's ship-via-spark-submit discipline — when run under
spark-submit, the already-configured session is reused; standalone runs
build a local one).

Verbs map 1:1 onto the library operators; nothing here adds logic —
parse args, call the operator, print one JSON result line.
"""

from __future__ import annotations

import argparse
import json
import sys


def _size(s: str) -> int:
    """'128MB' / '64kb' / plain bytes -> int."""
    s = s.strip().lower()
    for suf, mul in (("gb", 1 << 30), ("mb", 1 << 20), ("kb", 1 << 10),
                     ("g", 1 << 30), ("m", 1 << 20), ("k", 1 << 10),
                     ("b", 1)):
        if s.endswith(suf):
            return int(float(s[: -len(suf)]) * mul)
    return int(s)


def _cols(s: str | None) -> list[str] | None:
    return [c.strip() for c in s.split(",") if c.strip()] if s else None


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="parquet_toolkit_spark",
        description="PySpark-native parquet maintenance + columnar encode")
    p.add_argument("--master", default=None,
                   help="Spark master for standalone runs (default "
                        "local[*]); ignored under spark-submit")
    sub = p.add_subparsers(dest="verb", required=True)

    c = sub.add_parser("compact", help="merge many small parquet files")
    c.add_argument("--input", required=True, nargs="+")
    c.add_argument("--output", required=True)
    c.add_argument("--target-size", default="128MB")
    c.add_argument("--codec", default="snappy")

    s = sub.add_parser("sort", help="globally sort by key columns")
    s.add_argument("--input", required=True, nargs="+")
    s.add_argument("--output", required=True)
    s.add_argument("--keys", required=True, help="comma-separated")
    s.add_argument("--target-size", default="128MB")
    s.add_argument("--codec", default="snappy")
    s.add_argument("--descending", action="store_true")

    sp = sub.add_parser("split", help="split files into <= target size")
    sp.add_argument("--input", required=True, nargs="+")
    sp.add_argument("--output", required=True)
    sp.add_argument("--target-size", required=True)
    sp.add_argument("--codec", default="snappy")
    sp.add_argument("--strict", action="store_true",
                    help="refuse when input <= target (reference parity)")
    sp.add_argument("--binary", action="store_true",
                    help="zero-decode split at row-group granularity "
                         "(no re-encode; --codec ignored)")

    ap = sub.add_parser("append", help="zero-decode merge: raw row-group "
                                       "copy + footer rewrite, no re-encode")
    ap.add_argument("--input", required=True, nargs="+")
    ap.add_argument("--output", required=True)
    ap.add_argument("--target-size", default="128MB")
    ap.add_argument("--tree", action="store_true",
                    help="tree-reduce ALL inputs to ONE file "
                         "(reference M3 semantics; --output is a file)")
    ap.add_argument("--fan-in", type=int, default=None,
                    help="files merged per tree round (>= 2; --tree only, "
                         "default 5)")

    cv = sub.add_parser("csv2parquet", help="typed CSV -> parquet")
    cv.add_argument("--input", required=True)
    cv.add_argument("--output", required=True)
    cv.add_argument("--codec", default="gzip")
    cv.add_argument("--delimiter", default=",")
    cv.add_argument("--no-header", action="store_true")

    jv = sub.add_parser("jsonl2parquet",
                        help="typed JSONL (.jsonl/.jsonl.gz) -> parquet "
                             "with record-level quarantine of corrupt "
                             "lines")
    jv.add_argument("--input", required=True)
    jv.add_argument("--output", required=True)
    jv.add_argument("--schema", required=True,
                    help='DDL, e.g. "doc_id long, text string"')
    jv.add_argument("--codec", default="zstd")
    jv.add_argument("--quarantine", default=None)

    e = sub.add_parser("encode", help="layout + columnar-encode a table "
                                      "into a blob store")
    e.add_argument("--input", required=True)
    e.add_argument("--output", required=True)
    e.add_argument("--target-size", default="16MB")
    e.add_argument("--range-keys", default=None, help="comma-separated")
    e.add_argument("--sort-keys", default=None)
    e.add_argument("--cluster-keys", default=None,
                   help="Z-order instead of range layout")
    e.add_argument("--bloom-columns", default=None)
    e.add_argument("--run-id", default="cli")

    d = sub.add_parser("decode", help="read a blob store back to parquet")
    d.add_argument("--store", required=True)
    d.add_argument("--output", required=True)
    d.add_argument("--columns", default=None)
    d.add_argument("--where", default=None, action="append",
                   help="col:lo:hi range (repeatable; empty bound = open)")

    f = sub.add_parser("fsck", help="distributed store integrity check")
    f.add_argument("--store", required=True)

    icc = sub.add_parser("iceberg-compact",
                         help="rewrite_data_files: compaction as a "
                              "REPLACE snapshot on a filesystem Iceberg "
                              "table")
    icc.add_argument("--table", required=True)
    icc.add_argument("--target-rows", type=int, default=None)
    icc.add_argument("--sort-by", default=None, help="comma-separated")
    icc.add_argument("--zorder-by", default=None, help="comma-separated")
    icc.add_argument("--binary", action="store_true",
                     help="zero-decode: raw row-group copy per partition "
                          "group (no sort/zorder, no delete debt)")
    icc.add_argument("--target-size", default="128MB",
                     help="bin size for --binary")

    ice = sub.add_parser("iceberg-expire",
                         help="expire_snapshots: drop old snapshots and "
                              "reclaim their files")
    ice.add_argument("--table", required=True)
    ice.add_argument("--keep-last", type=int, default=1)

    ico = sub.add_parser("iceberg-orphans",
                         help="remove_orphan_files: report (default) or "
                              "delete data files no snapshot references. "
                              "Deletion skips files newer than "
                              "--older-than-hours (a concurrent writer "
                              "lands data files before its commit); "
                              "single-writer discipline applies.")
    ico.add_argument("--table", required=True)
    ico.add_argument("--delete", action="store_true",
                     help="actually delete (default: dry run)")
    ico.add_argument("--older-than-hours", type=float, default=72.0,
                     help="age guard for deletion (default 72h)")

    dc = sub.add_parser("decontaminate",
                        help="drop docs sharing >= min-hits word n-grams "
                             "with a benchmark parquet (train-set hygiene)")
    dc.add_argument("--docs", required=True, help="parquet path")
    dc.add_argument("--benchmark", required=True, help="parquet path")
    dc.add_argument("--output", required=True)
    dc.add_argument("--text-col", default="text")
    dc.add_argument("--id-col", default="doc_id")
    dc.add_argument("--ngram", type=int, default=8)
    dc.add_argument("--min-hits", type=int, default=1)

    ir = sub.add_parser("iceberg-rename",
                        help="field-id-preserving column renames "
                             "(metadata-only commit; time travel keeps "
                             "old names)")
    ir.add_argument("--table", required=True)
    ir.add_argument("--rename", action="append", required=True,
                    metavar="OLD=NEW",
                    help="repeatable: --rename old=new")

    sc = sub.add_parser("scrub-pii",
                        help="redact email/ipv4/card/phone patterns in a "
                             "text column (regex redactor, not NER)")
    sc.add_argument("--input", required=True, help="parquet path")
    sc.add_argument("--output", required=True)
    sc.add_argument("--text-col", default="text")
    return p


def _session(master: str | None):
    from pyspark.sql import SparkSession

    from parquet_toolkit_spark.runtime import (
        spark_builder_defaults,
        tune_malloc,
    )

    tune_malloc()
    active = SparkSession.getActiveSession()
    if active is not None:  # spark-submit: reuse the submitted session
        return active
    b = SparkSession.builder
    if master:
        b = b.master(master)
    return spark_builder_defaults(b).getOrCreate()


def _parse_where(terms: list[str] | None) -> dict | None:
    if not terms:
        return None
    out = {}
    for t in terms:
        col, lo, hi = t.split(":", 2)

        def _v(x: str):
            if x == "":
                return None
            try:
                return int(x)
            except ValueError:
                try:
                    return float(x)
                except ValueError:
                    return x
        out[col] = (_v(lo), _v(hi))
    return out


def main(argv: list[str] | None = None) -> dict:
    args = build_parser().parse_args(argv)
    spark = _session(args.master)
    v = args.verb
    if v == "compact":
        from parquet_toolkit_spark.operators.layout import compact
        res = compact(spark, args.input, args.output,
                      target_bytes=_size(args.target_size),
                      compression=args.codec)
    elif v == "sort":
        from parquet_toolkit_spark.operators.layout import sort_by_key
        res = sort_by_key(spark, args.input, args.output,
                          keys=_cols(args.keys),
                          target_bytes=_size(args.target_size),
                          compression=args.codec,
                          descending=args.descending)
    elif v == "split":
        if args.binary:
            from parquet_toolkit_spark.operators.binary_append import (
                split_row_groups,
            )
            res = split_row_groups(spark, args.input, args.output,
                                   target_bytes=_size(args.target_size),
                                   strict=args.strict)
        else:
            from parquet_toolkit_spark.operators.layout import split_by_size
            res = split_by_size(spark, args.input, args.output,
                                target_bytes=_size(args.target_size),
                                compression=args.codec, strict=args.strict)
    elif v == "append":
        from parquet_toolkit_spark.operators.binary_append import (
            append_compact,
            tree_merge,
        )
        if args.fan_in is not None and not args.tree:
            raise SystemExit("append: --fan-in only applies with --tree "
                             "(the bin-packed append streams inputs one "
                             "at a time and needs no fan-in)")
        paths = args.input if len(args.input) > 1 else args.input[0]
        res = (tree_merge(spark, paths, args.output,
                          fan_in=args.fan_in or 5)
               if args.tree else
               append_compact(spark, paths, args.output,
                              target_bytes=_size(args.target_size)))
    elif v == "csv2parquet":
        from parquet_toolkit_spark.sources.csv_ingest import convert_csv
        rows = convert_csv(spark, args.input, args.output,
                           compression=args.codec, delimiter=args.delimiter,
                           header=not args.no_header)
        res = {"rows": rows}
    elif v == "jsonl2parquet":
        from parquet_toolkit_spark.sources.jsonl_ingest import convert_jsonl
        res = convert_jsonl(spark, args.input, args.output,
                            schema=args.schema, compression=args.codec,
                            quarantine=args.quarantine)
    elif v == "encode":
        from parquet_toolkit_spark.operators.encode import (
            encode_pipeline,
            encoded_size_report,
        )
        from parquet_toolkit_spark.operators.layout import (
            read_parquet_footed,
        )
        kw = {}
        if _cols(args.range_keys):
            kw["range_keys"] = tuple(_cols(args.range_keys))
        if _cols(args.sort_keys):
            kw["sort_keys"] = tuple(_cols(args.sort_keys))
        if _cols(args.cluster_keys):
            kw["cluster_keys"] = tuple(_cols(args.cluster_keys))
        df, footers = read_parquet_footed(spark, [args.input])
        encode_pipeline(
            spark, df, args.output, target_bytes=_size(args.target_size),
            run_id=args.run_id, footers=footers,
            bloom_columns=tuple(_cols(args.bloom_columns) or ()), **kw)
        rep = encoded_size_report(spark, args.output)
        res = {"pids": rep["n_partitions"], "bytes_in": rep["bytes_in"],
               "bytes_out": rep["bytes_out"]}
    elif v == "decode":
        from parquet_toolkit_spark.operators.encode import (
            decode_pipeline,
            decode_where,
        )
        where = _parse_where(args.where)
        df = (decode_where(spark, args.store, where,
                           columns=_cols(args.columns))
              if where else
              decode_pipeline(spark, args.store, columns=_cols(args.columns)))
        df.write.mode("overwrite").parquet(args.output)
        res = {"rows": spark.read.parquet(args.output).count()}
    elif v == "fsck":
        from parquet_toolkit_spark.operators.encode import fsck_store
        rep = fsck_store(spark, args.store)
        res = {r["status"]: r["n"] for r in
               rep.groupBy("status").count()
               .withColumnRenamed("count", "n").collect()}
    elif v == "iceberg-compact":
        from parquet_toolkit_spark.sources.iceberg_compat import (
            rewrite_data_files,
        )
        out = rewrite_data_files(
            spark, args.table, target_file_rows=args.target_rows,
            sort_by=_cols(args.sort_by), zorder_by=_cols(args.zorder_by),
            binary=args.binary,
            binary_target_bytes=_size(args.target_size))
        res = {k: (len(v2) if k == "files" else v2)
               for k, v2 in out.items()}
    elif v == "iceberg-expire":
        from parquet_toolkit_spark.sources.iceberg_compat import (
            expire_snapshots,
        )
        res = expire_snapshots(spark, args.table,
                               keep_last=args.keep_last)
    elif v == "iceberg-orphans":
        from parquet_toolkit_spark.sources.iceberg_compat import (
            remove_orphan_files,
        )
        res = remove_orphan_files(
            spark, args.table, dry_run=not args.delete,
            older_than_s=args.older_than_hours * 3600.0)
        res = {"n_orphans": len(res["orphans"]),
               "deleted": res["deleted"],
               "skipped_recent": res["skipped_recent"],
               "orphans": res["orphans"][:20]}
    elif v == "iceberg-rename":
        from parquet_toolkit_spark.sources.iceberg_compat import (
            rename_columns,
        )
        renames = {}
        for spec in args.rename:
            old, sep, new = spec.partition("=")
            if not sep or not old or not new:
                raise SystemExit(f"--rename wants OLD=NEW, got {spec!r}")
            renames[old] = new
        res = rename_columns(args.table, renames, spark)
    elif v == "decontaminate":
        from parquet_toolkit_spark.functions.decontaminate import (
            decontaminate,
        )
        docs = spark.read.parquet(args.docs)
        bench = spark.read.parquet(args.benchmark)
        kept = decontaminate(docs, bench, n=args.ngram,
                             min_hits=args.min_hits,
                             text_col=args.text_col, id_col=args.id_col)
        kept.write.mode("overwrite").parquet(args.output)
        n_kept = spark.read.parquet(args.output).count()
        res = {"kept": n_kept, "dropped": docs.count() - n_kept}
    elif v == "scrub-pii":
        from pyspark.sql import functions as SF

        from parquet_toolkit_spark.functions.text import scrub_pii
        df = spark.read.parquet(args.input)
        out = df.withColumn(args.text_col,
                            scrub_pii(SF.col(args.text_col)))
        out.write.mode("overwrite").parquet(args.output)
        res = {"rows": spark.read.parquet(args.output).count()}
    else:  # pragma: no cover — argparse enforces the choices
        raise SystemExit(2)
    print(json.dumps({"verb": v, **res}, default=str))
    return res


if __name__ == "__main__":
    main(sys.argv[1:])
