package com.example.foo

interface Baz {
    fun baz(): String = "baz"
}
