"""The callable ``format_data`` of the row_transform ops.

Spark's Python workers import this module to unpickle the function, so
it imports nothing: the workers stay as small as a user's would.
"""


class Reshape:
    """Reference-style callable ``format_data``: renames ``id``, adds
    columns, drops void rows by returning ``None`` and raises
    ``ValueError`` on a malformed quantity."""

    def __init__(self, calls=None):
        self.calls = calls  # Spark accumulator in the traced run

    def __call__(self, row: dict) -> dict | None:
        if self.calls is not None:
            self.calls.add(1)
        if row["status"] == "void":
            return None
        qty = int(row["qty_raw"])
        return {
            "order_id": row["id"],
            "customer": row["cust"].strip().upper(),
            "status": row["status"],
            "qty": qty,
            "price": row["price"],
            "total": row["price"] * qty,
            "big": qty >= 50,
        }
