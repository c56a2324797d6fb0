"""Pure-Python port of the reference's object-in-lane test
(detect_scenes.py:13-112), the oracle for the geometry tests.

Shapes are plain Python: a detection is an ``(x, y, width, height,
Class)`` tuple, a lane is a list of ``(x, y)`` points. The port is
extended for nulls, which the reference never sees: a ``None``
detection, lane, point or coordinate takes part in nothing, and a
``None`` detections or lanes list gives ``None``. A lane with no
points never matches (the reference raises KeyError there).
"""

import math

MAX_NEAREST_DIST = 1000.0


def _distance(px, py, cx, cy):
    # np.linalg.norm of the 2-vector, detect_scenes.py:13-16
    dx, dy = px - cx, py - cy
    return math.sqrt(dx * dx + dy * dy)


def nearest_x(points, cx, cy):
    """x of the first point strictly nearer than the cutoff and than
    every earlier point (detect_scenes.py:19-28); None when none is."""
    best, best_d = None, MAX_NEAREST_DIST
    for p in points or ():
        if p is None or p[0] is None or p[1] is None:
            continue
        d = _distance(p[0], p[1], cx, cy)
        if d < best_d:
            best, best_d = p[0], d
    return best


def corner_label(lanes, cx, cy):
    """First adjacent lane pair whose nearest xs bracket ``cx``; y is
    ignored (detect_scenes.py:47-64)."""
    nearest = [nearest_x(lane, cx, cy) for lane in lanes]
    for i in range(len(nearest) - 1):
        a, b = nearest[i], nearest[i + 1]
        if a is not None and b is not None and min(a, b) <= cx <= max(a, b):
            return f"between_{i}_and_{i + 1}"
    return None


def oracle_objects_in_lane(objects, lanes):
    """``[(x, y, width, height, Class, corners_in_lane, lanes)]`` of the
    detections with a corner in a lane (detect_scenes.py:67-112)."""
    if objects is None or lanes is None:
        return None
    out = []
    for o in objects:
        if o is None or any(v is None for v in o[:4]):
            continue
        x, y, w, h, cls = o
        corners = [(x - w / 2, y - h / 2), (x + w / 2, y - h / 2),
                   (x - w / 2, y + h / 2), (x + w / 2, y + h / 2)]
        labels = [corner_label(lanes, cx, cy) for cx, cy in corners]
        hit = [v for v in labels if v is not None]
        if hit:
            out.append((x, y, w, h, cls, len(hit), list(dict.fromkeys(hit))))
    return out


def as_tuples(objects_in_lane):
    """Spark ``objects_in_lane`` rows in the oracle's shape."""
    if objects_in_lane is None:
        return None
    return [(o.x, o.y, o.width, o.height, o.Class, o.corners_in_lane,
             list(o.lanes)) for o in objects_in_lane]
