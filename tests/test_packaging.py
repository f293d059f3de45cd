"""scripts/package.sh builds the spark-submit --py-files artifact: the zip
it writes must byte-match the package source, or executors silently run
stale code (the README/verify launch path would diverge from the repo)."""

import pathlib
import subprocess
import zipfile

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_py_files_zip_matches_source():
    subprocess.run(["bash", "scripts/package.sh"], cwd=ROOT, check=True, capture_output=True)
    zip_path = ROOT / "dist" / "kg_engine.zip"
    sources = {
        p.relative_to(ROOT).as_posix(): p.read_bytes()
        for p in sorted((ROOT / "dss_plugin_nlp_analysis_spark").glob("**/*.py"))
    }
    with zipfile.ZipFile(zip_path) as z:
        packaged = {n: z.read(n) for n in z.namelist() if n.endswith(".py")}
    missing = sources.keys() - packaged.keys()
    extra = packaged.keys() - sources.keys()
    assert not missing, f"zip missing: {sorted(missing)}"
    assert not extra, f"zip has stale extra files: {sorted(extra)}"
    stale = [n for n, b in sources.items() if packaged[n] != b]
    assert not stale, f"zip stale for: {stale}"
