import sys
import types

from tracing import Tracer


def _fake_package(monkeypatch):
    pkg = types.ModuleType("fakepkg")

    def entry(x):
        return x + 1

    class Catalog:
        def read(self, name):
            return name

    pkg.entry = entry
    pkg.Catalog = Catalog
    sub = types.ModuleType("fakepkg.sub")
    sub.entry = entry  # a `from . import entry` elsewhere in the package
    monkeypatch.setitem(sys.modules, "fakepkg", pkg)
    monkeypatch.setitem(sys.modules, "fakepkg.sub", sub)
    return pkg, sub


def test_removed_entry_points_are_reported_absent(monkeypatch):
    pkg, sub = _fake_package(monkeypatch)
    tracer = Tracer(enabled=True, package="fakepkg")
    tracer.install([
        ("fakepkg", "entry"),
        ("fakepkg", "renamed_away"),
        ("fakepkg.gone_module", "entry"),
        ("fakepkg", "Catalog.read"),
        ("fakepkg", "Catalog.read_snapshot"),
        ("fakepkg", "GoneClass.read"),
    ])
    assert tracer.absent == [
        "fakepkg.renamed_away", "fakepkg.gone_module.entry",
        "fakepkg.Catalog.read_snapshot", "fakepkg.GoneClass.read",
    ]
    with tracer.layer("query.search"):
        assert pkg.entry(1) == 2
        assert sub.entry(2) == 3
        assert pkg.Catalog().read("postings") == "postings"
    assert len(tracer.call_seconds("query.search", "entry")) == 2
    assert len(tracer.call_seconds("query.search", "Catalog.read")) == 1
    assert tracer.span_count("query.search") == 1

    tracer.uninstall()
    assert pkg.entry is sub.entry
    assert pkg.entry.__name__ == "entry" and not hasattr(pkg.entry, "__wrapped__")
    assert "read" in vars(pkg.Catalog) and not hasattr(pkg.Catalog.read, "__wrapped__")


def test_untraced_tracer_changes_nothing(monkeypatch):
    pkg, _ = _fake_package(monkeypatch)
    before = pkg.entry
    tracer = Tracer(enabled=False, package="fakepkg")
    tracer.install([("fakepkg", "entry")])
    with tracer.layer("query.search"):
        pkg.entry(1)
    assert pkg.entry is before and tracer.calls == [] and tracer.spans == []
