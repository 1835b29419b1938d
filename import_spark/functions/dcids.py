"""Content-hash dcid assignment (DcidGenerator semantics).

Re-expresses DcidGenerator.java (reference):
- C1 farmhash64 → base32 long id        (:29-36,354-375) — see farmhash.py
- C2 StatVarObservation dcid            (:72-83,178-211)
- C3 StatVar dcid                       (:63-70,133-176)
- C5 place dcid from external id        (:213-229)
- C6 facet id                           (TimeSeries.java:170-191)

Plus ``col_long_id``, the C1 id as a Column evaluated on the JVM
(import_spark/jvm/LongId.java). The key-string construction (ordered
``prop=value`` concatenation) is the contract; the hash is FarmHash
Fingerprint64, bit-validated vs Guava.
"""

from __future__ import annotations

from import_spark import vocabulary as V
from import_spark.functions.complex_values import parse_complex_value
from import_spark.functions.farmhash import facet_id, fingerprint64, long_id

__all__ = [
    "svobs_key_string",
    "svobs_dcid",
    "statvar_key_string",
    "statvar_dcid",
    "place_dcid",
    "facet_id",
    "long_id",
    "fingerprint64",
    "col_long_id",
]


def svobs_key_string(pvs: dict[str, str]) -> str | None:
    """Ordered key for a StatVarObservation (DcidGenerator.java:178-211).

    ``pvs`` maps prop → single string value (refs already resolved, no
    namespace). Returns None if a required prop is missing or a ref is
    still local.
    """
    parts = []
    for i, prop in enumerate(V.ORDERED_SVOBS_KEY_PROPS):
        val = pvs.get(prop)
        if val is None or val == "":
            if i <= V.LAST_REQUIRED_SVOBS_PROP_INDEX:
                return None
            continue
        if prop in (V.VARIABLE_MEASURED, V.OBSERVATION_ABOUT) and val.startswith(
            V.INTERNAL_REF_PREFIX
        ):
            return None
        parts.append(f"{prop}={val}")
    return "".join(parts)


def svobs_dcid(pvs: dict[str, str]) -> str | None:
    key = svobs_key_string(pvs)
    if key is None:
        return None
    return V.SVOBS_NAMESPACE + long_id(key)


def statvar_key_string(pvs: dict[str, str]) -> str | None:
    """Sorted fixed+constraint props key (DcidGenerator.java:133-176).

    Complex values contribute their computed dcid.
    """
    if not pvs.get(V.TYPE_OF):
        return None
    props = sorted(
        p
        for p in pvs
        if p in V.FIXED_STAT_VAR_PROPS or p not in V.NON_CONSTRAINT_STAT_VAR_PROPS
    )
    parts = []
    for prop in props:
        val = pvs[prop]
        if val.startswith("["):
            cv = parse_complex_value(val)
            if cv is None:
                return None
            parts.append(f"{prop}={cv.dcid}")
        else:
            parts.append(f"{prop}={val}")
    return "".join(parts)


def statvar_dcid(pvs: dict[str, str]) -> str | None:
    key = statvar_key_string(pvs)
    if key is None:
        return None
    return V.DC_NAMESPACE + long_id(key)


def place_dcid(ext_ids: dict[str, str]) -> str | None:
    """First non-empty external id in priority order → ``<prefix>/<id>``
    (DcidGenerator.java:213-229, priority Vocabulary.java:291-307)."""
    for prop in V.PLACE_RESOLVABLE_AND_ASSIGNABLE_IDS:
        val = ext_ids.get(prop)
        if val:
            return f"{V.place_dcid_prefix(prop)}/{val}"
    return None


# --- C4: legacy Population/Observation dcids (DcidGenerator.java:237-335) ---

ORDERED_LEGACY_OBS_KEY_PROPS = [
    "observedNode", "observationDate", "measuredProperty",
    "observationPeriod", "unit",
    "measuredValue", "minValue", "maxValue", "sumValue", "meanValue",
    "medianValue", "marginOfError", "measurementMethod",
    "measurementResult", "stdError", "sampleSize",
    "percentile10", "percentile25", "percentile75", "percentile90",
    "meanStdError", "growthRate", "stdDeviationValue",
    "confidenceIntervalLowerLimit", "confidenceIntervalUpperLimit",
    "kurtosis", "skewness",
    "measurementDenominator", "measurementQualifier", "scalingFactor",
]
LAST_REQUIRED_LEGACY_OBS_PROP_INDEX = ORDERED_LEGACY_OBS_KEY_PROPS.index(
    "measuredProperty"
)


def legacy_obs_key_string(
    pvs: dict[str, str], counts: dict[str, int] | None = None
) -> str | None:
    """Ordered legacy-Observation key (DcidGenerator.java:305-335).

    Returns None when a required prop is missing, the observedNode is
    still a local ref, or — when ``counts`` (per-prop typed-value
    counts for the node) is given — any key prop is multi-valued: the
    reference fails assignment outright on ``tvs.size() != 1``
    (DcidGenerator.java:318-321), it never picks a first value."""
    parts = []
    for i, prop in enumerate(ORDERED_LEGACY_OBS_KEY_PROPS):
        val = pvs.get(prop)
        if val is None or val == "":
            if i <= LAST_REQUIRED_LEGACY_OBS_PROP_INDEX:
                return None
            continue
        if counts is not None and counts.get(prop, 0) > 1:
            return None
        if prop == "observedNode" and val.startswith(V.INTERNAL_REF_PREFIX):
            return None
        parts.append(f"{prop}={val}")
    return "".join(parts)


def legacy_pop_key_string(pvs: dict[str, str], constraints: set[str] | None = None) -> str | None:
    """Legacy StatisticalPopulation key (DcidGenerator.java:237-304):
    popType + location + memberOf + sorted ``<cprop><value>`` pairs
    (no '=' separators, matching the reference byte-for-byte).

    ``pvs`` maps prop → first value; complex values must already be
    rewritten to their dcids (the Mutator does this upstream)."""
    pop_type = pvs.get("populationType", "")
    location = pvs.get("location", "")
    if not pop_type or not location:
        return None
    if location.startswith(V.INTERNAL_REF_PREFIX):
        return None
    cprops = sorted(
        p
        for p in pvs
        if p not in V.NON_CONSTRAINT_STAT_VAR_PROPS
        and (constraints is None or p in constraints)
    )

    def _val(p: str) -> str | None:
        # complex values contribute their computed dcid
        # (DcidGenerator.java:237-304 getValueAsDcid)
        v = pvs[p]
        if v.startswith("["):
            cv = parse_complex_value(v)
            return cv.dcid if cv else None
        return v

    parts = [pop_type, location, pvs.get("memberOf", "")]
    for p in cprops:
        v = _val(p)
        if v is None:
            return None
        parts.append(f"{p}{v}")
    return "".join(parts)


def col_long_id(c):
    """C1 on the JVM: the FarmHash base32 long id of a string Column (null
    stays null), bit-equal to :func:`long_id`. It calls the session
    function ``jvm.LONG_ID``, so the plan's session must have run
    ``jvm.register_long_id`` before the plan is analyzed."""
    from pyspark.sql import functions as F

    from import_spark.jvm import LONG_ID

    return F.call_function(LONG_ID, c)
