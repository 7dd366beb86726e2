"""--py-files packaging: the dq.zip artifact must be reproducible and
sufficient on its own — executors import the engine from the shipped
archive, not from the repo checkout."""

import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_zip_is_reproducible_and_complete(tmp_path):
    sys.path.insert(0, REPO)
    from tools.package import build

    a = build(str(tmp_path / "a.zip"))
    b = build(str(tmp_path / "b.zip"))
    assert open(a, "rb").read() == open(b, "rb").read()
    names = zipfile.ZipFile(a).namelist()
    for mod in ("dataquality_spark/pipeline.py",
                "dataquality_spark/operators/curation.py",
                "dataquality_spark/functions/langid.py",
                "dataquality_spark/sources/io.py"):
        assert mod in names
    assert not any("__pycache__" in n or n.endswith(".pyc")
                   for n in names)


def test_pipeline_runs_from_zip_only(tmp_path):
    """Real --py-files semantics: a subprocess whose cwd is NOT the repo
    strips the repo from sys.path, puts only the zip on the driver path
    and ships it to python workers via addPyFile; the decision pipeline
    must run end-to-end."""
    sys.path.insert(0, REPO)
    from tools.package import build

    zip_path = build(str(tmp_path / "dq.zip"))
    probe = tmp_path / "probe.py"
    probe.write_text(f"""
import sys
sys.path = [p for p in sys.path if not p.rstrip('/').endswith('repo')]
sys.path.insert(0, {zip_path!r})          # driver-side import from zip
from pyspark.sql import SparkSession, functions as F
spark = (SparkSession.builder.master('local[2]')
         .appName('pyfiles-probe')
         .config('spark.sql.shuffle.partitions', '2')
         .getOrCreate())
spark.sparkContext.setLogLevel('ERROR')
spark.sparkContext.addPyFile({zip_path!r})  # executor-side (--py-files)
from dataquality_spark import pipeline
df = spark.createDataFrame(
    [('https://a.example.org/1', '2024-01-02 03:04:05', None,
      'the quick brown fox jumps over the lazy dog and keeps running '
      'every day through the green field with many common words here',
      'en')] * 50,
    'url string, warc_ts string, html binary, text string, lang string'
).withColumn('warc_ts', F.col('warc_ts').cast('timestamp'))
out = pipeline.decisions(df)
rows = out.select('keep', F.size('rule_hits').alias('nh')).collect()
assert len(rows) == 50
print('ZIPRUN_OK', len(rows))
""")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run([sys.executable, str(probe)], cwd=str(tmp_path),
                       capture_output=True, text=True, timeout=420,
                       env=env)
    assert "ZIPRUN_OK 50" in r.stdout, r.stderr[-3000:]


# Shipped modules no entry point imports, each with the reason it stays.
REACHABILITY_ALLOWLIST = {
    # The Iceberg DDL for the pages table, used when the Iceberg runtime
    # jar is on the classpath; the jar is not bundled with this repo.
    "dataquality_spark.sources.iceberg_spec",
}


def _module_path(name):
    base = os.path.join(REPO, *name.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _repo_imports(path, modname):
    """Repo modules `path` imports anywhere in its body (function-local
    imports included), plus every parent package of each."""
    import ast

    pkg = modname.split(".")
    if not path.endswith("__init__.py"):
        pkg = pkg[:-1]
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = pkg[:len(pkg) - node.level + 1] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            names.add(mod)
            # `from pkg import sub` imports the submodule `pkg.sub`
            names.update(f"{mod}.{a.name}" for a in node.names)
    parts = {".".join(n.split(".")[:i + 1])
             for n in names for i in range(n.count(".") + 1)}
    return {m for m in parts if _module_path(m)}


def test_every_shipped_module_is_reachable():
    """Every dataquality_spark module must be transitively imported from
    a job (jobs/*.py), the contract entry (__spark_entry__.py) or
    bench.py; a module only tests import is dead weight in the package."""
    import glob

    todo = set()
    for path in (glob.glob(os.path.join(REPO, "jobs", "*.py"))
                 + [os.path.join(REPO, "__spark_entry__.py"),
                    os.path.join(REPO, "bench.py")]):
        todo |= _repo_imports(path, os.path.basename(path)[:-3])
    seen = set()
    while todo:
        mod = todo.pop()
        seen.add(mod)
        todo |= _repo_imports(_module_path(mod), mod) - seen

    shipped = set()
    for path in glob.glob(os.path.join(REPO, "dataquality_spark", "**",
                                       "*.py"), recursive=True):
        mod = os.path.relpath(path, REPO)[:-3].replace(os.sep, ".")
        shipped.add(mod.removesuffix(".__init__"))
    assert sorted(shipped - seen - REACHABILITY_ALLOWLIST) == []
    assert REACHABILITY_ALLOWLIST <= shipped


def test_every_tool_is_documented_or_imported():
    """Every tools/*.py must be named in README.md or imported by
    bench.py or a test; an unlisted, unimported tool is a stray probe."""
    import glob

    with open(os.path.join(REPO, "README.md"), encoding="utf-8") as f:
        readme = f.read()
    imported = set()
    for path in ([os.path.join(REPO, "bench.py")]
                 + glob.glob(os.path.join(REPO, "tests", "*.py"))):
        imported |= _repo_imports(path, os.path.basename(path)[:-3])
    stray = []
    for path in glob.glob(os.path.join(REPO, "tools", "*.py")):
        name = os.path.basename(path)[:-3]
        if name == "__init__":
            continue
        if (f"tools/{name}.py" not in readme
                and f"tools.{name}" not in imported):
            stray.append(name)
    assert sorted(stray) == []
