"""CrawlDatum / CrawlDatums — the row model and its serialized form
(reference model/CrawlDatum.java, model/CrawlDatums.java).

The Python classes exist for the driver-side API (seeding, plugins,
tests — the reference's user-facing surface); inside the engine a datum
is a DataFrame row and meta a map<string,string> column. Typed meta
accessors live on the class (Gson metaAsInt/Long/Double/Boolean,
CrawlDatum.java:193-217) and cast at read, preserving the
stringly-typed storage model.
"""

from __future__ import annotations

import json

from webcollector_spark.schema import (
    CODE_NOT_SET,
    META_KEY_TYPE,
    STATUS_DB_UNEXECUTED,
)


class CrawlDatum:
    """One crawl task. key defaults to url (CrawlDatum.java:239-245)."""

    def __init__(self, url: str | None = None):
        self._url = url
        self._key: str | None = None
        self.status = STATUS_DB_UNEXECUTED
        self.execute_time = 0
        self.execute_count = 0
        self.code = CODE_NOT_SET
        self.location: str | None = None
        self.meta_data: dict[str, str] = {}

    # -- key/url (CrawlDatum.java:54-59, 239-250) ----------------------
    def key(self, key: str | None = None):
        if key is None:
            return self._key if self._key is not None else self._url
        self._key = key
        return self

    def url(self, url: str | None = None):
        if url is None:
            return self._url
        self._url = url
        return self

    # -- meta: stringly-typed store, typed reads (":193-290") ----------
    def meta(self, key=None, value=None):
        if key is None:
            return dict(self.meta_data)
        if isinstance(key, dict):
            # meta(JsonObject) bulk setter (CrawlDatum.java:236-238)
            self.meta_data.update({k: _meta_str(v) for k, v in key.items()})
            return self
        if value is None:
            return self.meta_data.get(key)
        self.meta_data[key] = _meta_str(value)
        return self

    def meta_as_int(self, key: str) -> int:
        return int(self.meta_data[key])

    def meta_as_long(self, key: str) -> int:
        return int(self.meta_data[key])

    def meta_as_double(self, key: str) -> float:
        return float(self.meta_data[key])

    def meta_as_boolean(self, key: str) -> bool:
        return self.meta_data[key] == "true"

    # -- type tag lives at meta "s_t" (":126-134") ---------------------
    def type(self, t: str | None = None):
        if t is None:
            return self.meta(META_KEY_TYPE)
        return self.meta(META_KEY_TYPE, t)

    def match_type(self, t: str | None) -> bool:
        return self.type() == t

    # -- positional JSON-array persistence (":299-328") ----------------
    def as_json_array(self) -> str:
        """[url, status, executeTime, executeCount, code, location, meta?]
        — meta appended only when non-empty (CrawlDatum.java:299-313)."""
        arr: list = [
            self._url,
            self.status,
            self.execute_time,
            self.execute_count,
            self.code,
            self.location,
        ]
        if self.meta_data:
            arr.append(self.meta_data)
        return json.dumps(arr, separators=(",", ":"), ensure_ascii=False)

    @classmethod
    def from_json_array(cls, key: str, json_str: str) -> "CrawlDatum":
        """Mirror of CrawlDatum.fromJsonArray (":315-328"): reads url,
        status, executeTime, executeCount; meta only when the array has
        exactly 7 elements; code/location are NOT restored (faithful to
        the reference, which skips indices 4-5 on read)."""
        arr = json.loads(json_str)
        d = cls(arr[0]).key(key)
        d.status = int(arr[1])
        d.execute_time = int(arr[2])
        d.execute_count = int(arr[3])
        if len(arr) == 7:
            d.meta_data = {k: _meta_str(v) for k, v in arr[6].items()}
        return d

    def as_row(self, host: str = "", depth: int = 0, priority: float = 0.0):
        """FRONTIER_SCHEMA-ordered tuple for spark.createDataFrame."""
        return (
            self.key(), self._url, self.status,
            self.execute_time or None, self.execute_count, self.code,
            self.location, (self.meta_data or None), host, depth, priority,
        )


def _meta_str(value) -> str:
    """Gson-compatible scalar -> string (booleans as 'true'/'false')."""
    if isinstance(value, bool):
        return "true" if value else "false"
    return str(value)


class CrawlDatums(list):
    """Ordered container with broadcast setters (CrawlDatums.java:33,
    130-168: .type()/.meta() apply to EVERY element)."""

    def add(self, item) -> "CrawlDatums":
        if isinstance(item, CrawlDatums) or isinstance(item, list):
            self.extend(_coerce(x) for x in item)
        else:
            self.append(_coerce(item))
        return self

    def add_and_return(self, item):
        """CrawlDatums.addAndReturn (":56-110") — returns the added
        datum(s), not self."""
        if isinstance(item, (CrawlDatums, list)):
            coerced = CrawlDatums()
            coerced.extend(_coerce(x) for x in item)
            self.extend(coerced)
            return coerced
        d = _coerce(item)
        self.append(d)
        return d

    def type(self, t: str) -> "CrawlDatums":
        for d in self:
            d.type(t)
        return self

    def meta(self, key: str, value) -> "CrawlDatums":
        for d in self:
            d.meta(key, value)
        return self


def _coerce(item) -> CrawlDatum:
    return item if isinstance(item, CrawlDatum) else CrawlDatum(item)
