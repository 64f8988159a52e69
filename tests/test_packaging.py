"""The ``--py-files`` zip ships exactly the package's Python modules."""

import pkgutil
import zipfile

import embulk_filter_column_spark as pkg
from tools.make_pyfiles_zip import build


def test_pyfiles_zip_holds_every_package_module(tmp_path):
    want = {pkg.__name__ + "/__init__.py"}
    for mod in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        base = mod.name.replace(".", "/")
        want.add(base + "/__init__.py" if mod.ispkg else base + ".py")
    with zipfile.ZipFile(build(str(tmp_path / "efcs.zip"))) as z:
        assert set(z.namelist()) == want
