"""Aggregate CLI over all registered datasets.

Spark-native rebuild of the reference's click-based aggregate CLI
(``/root/reference/src/bio2bel/cli.py``): ``populate`` walks every registered
dataset with per-dataset failure isolation (``cli.py:68-107``), ``drop``
drops one or all, ``summarize``/``sheet`` print per-table counts
(``cli.py:173-233``), and ``actions`` lists the provenance log
(``models.py:116-123``). argparse instead of click — zero extra deps.

Inputs for source datasets are supplied as repeated
``--input module.name=path`` flags or via the
``BIO2BEL_SPARK_INPUT_{MODULE}_{NAME}`` env vars (see
:mod:`bio2bel_spark.sources.datasets`).
"""

from __future__ import annotations

import argparse
import sys
from typing import Optional

from bio2bel_spark.dataset import get_dataset_classes
from bio2bel_spark.io.automate import _instantiate


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="bio2bel-spark", description="Spark-native bio2bel engine CLI"
    )
    p.add_argument("--master", default="local[*]", help="Spark master URL")
    p.add_argument("--warehouse", default=None, help="warehouse directory")
    sub = p.add_subparsers(dest="command", required=True)

    pop = sub.add_parser("populate", help="populate one or all datasets")
    pop.add_argument("--module", default=None, help="only this dataset")
    pop.add_argument("--force", action="store_true", help="repopulate even if present")
    pop.add_argument(
        "--input",
        action="append",
        default=[],
        metavar="MODULE.NAME=PATH",
        help="bind a source input file (repeatable)",
    )

    drop = sub.add_parser("drop", help="drop one or all datasets")
    drop.add_argument("--module", default=None)

    summ = sub.add_parser("summarize", help="row counts for one or all datasets")
    summ.add_argument("--module", default=None)

    sub.add_parser("sheet", help="one summary table across all datasets")
    act = sub.add_parser("actions", help="list the provenance log")
    act.add_argument("--limit", type=int, default=20)
    sub.add_parser("ls", help="list registered dataset modules")

    ns = sub.add_parser(
        "namespace", help="export a BEL namespace file from a catalog table"
    )
    ns.add_argument("--table", required=True, help="catalog table name")
    ns.add_argument("--id-col", default="identifier")
    ns.add_argument("--name-col", default="name")
    ns.add_argument("--encoding", default="GRP")
    ns.add_argument("--keyword", default="NS")
    ns.add_argument("--out-dir", required=True)
    ns.add_argument(
        "--use-ids", action="store_true", help="values are identifiers, not names"
    )
    return p


def _parse_inputs(pairs: list[str]) -> dict[str, dict[str, str]]:
    out: dict[str, dict[str, str]] = {}
    for pair in pairs:
        try:
            key, path = pair.split("=", 1)
            module, name = key.split(".", 1)
        except ValueError:
            raise SystemExit(f"--input must look like module.name=path, got {pair!r}")
        out.setdefault(module, {})[name] = path
    return out


def _selected(module: Optional[str]):
    classes = get_dataset_classes()
    if module is not None:
        if module not in classes:
            raise SystemExit(
                f"unknown module {module!r}; registered: {sorted(classes)}"
            )
        return {module: classes[module]}
    return classes


def main(argv: Optional[list[str]] = None, spark=None) -> int:
    # importing the source datasets registers them
    import bio2bel_spark.sources.datasets  # noqa: F401
    from bio2bel_spark.session import get_spark

    args = _build_parser().parse_args(argv)
    owns_spark = spark is None
    if owns_spark:
        spark = get_spark(app_name="bio2bel-spark-cli", master=args.master)
    rc = 0
    try:
        if args.command == "ls":
            for name in sorted(get_dataset_classes()):
                print(name)
        elif args.command == "populate":
            input_paths = _parse_inputs(args.input)
            # per-dataset failure isolation (reference cli.py:68-107): one
            # broken source must not stop the rest; provenance records the
            # failure via the Dataset.populate template method
            for name, cls in sorted(_selected(args.module).items()):
                ds = _instantiate(
                    cls, spark, args.warehouse, input_paths.get(cls.module_name)
                )
                try:
                    ds.populate(force=args.force)
                    print(f"{name}: populated")
                except Exception as e:  # noqa: BLE001
                    rc = 1
                    print(f"{name}: FAILED ({type(e).__name__}: {e})", file=sys.stderr)
        elif args.command == "drop":
            for name, cls in sorted(_selected(args.module).items()):
                ds = _instantiate(cls, spark, args.warehouse)
                ds.drop_all()
                print(f"{name}: dropped")
        elif args.command == "summarize":
            for name, cls in sorted(_selected(args.module).items()):
                ds = _instantiate(cls, spark, args.warehouse)
                for table, n in sorted(ds.summarize().items()):
                    print(f"{name}.{table}\t{n}")
        elif args.command == "sheet":
            # M4: one summary table across datasets (reference sheet cmd),
            # sorted by module, then table
            for name, cls in sorted(get_dataset_classes().items()):
                ds = _instantiate(cls, spark, args.warehouse)
                for table, n in sorted(ds.summarize().items()):
                    print(f"{name}\t{table}\t{n}")
        elif args.command == "actions":
            from bio2bel_spark.catalog import Catalog

            cat = Catalog(spark, args.warehouse)
            for r in cat.actions().limit(args.limit).collect():
                print(f"{r['created']}\t{r['resource']}\t{r['action']}")
        elif args.command == "namespace":
            # namespace export CLI (reference namespace_manager.py:467-488):
            # build entries from any catalog table, skip-if-unchanged write
            from bio2bel_spark.catalog import Catalog
            from bio2bel_spark.operators.namespace import (
                make_namespace,
                write_directory,
            )

            cat = Catalog(spark, args.warehouse)
            entries = make_namespace(
                cat.read_table(args.table),
                identifier_col=args.id_col,
                name_col=args.name_col,
                encoding=args.encoding,
            )
            wrote = write_directory(
                entries,
                args.out_dir,
                keyword=args.keyword,
                use_names=not args.use_ids,
            )
            print(f"{args.keyword}: {'written' if wrote else 'unchanged (md5 match)'}")
    finally:
        if owns_spark:
            spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
